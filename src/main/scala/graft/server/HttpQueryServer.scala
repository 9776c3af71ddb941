package graft.server

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.cypher.{CypherMutation, CypherResult, CypherRows, CypherSession, CypherWrite}

import java.net.InetSocketAddress
import scala.jdk.CollectionConverters._

/** Minimal HTTP query endpoint over a [[CypherSession]] — the server seam
  * the reference exposes through Neo4j (Bolt 7687 + HTTP 7474,
  * /root/reference/start.sh:5-6). The wire shape mirrors Neo4j's HTTP
  * transactional API: `POST /query` with
  * `{"statements": [{"statement": "...", "parameters": {...}}]}` returns
  * `{"results": [{"columns": [...], "data": [{"row": [...]}, ...]}],
  * "errors": [...]}` — the subset a driver or the browser's query pane
  * actually uses (no explicit begin/commit endpoints, which the
  * reference's own client never calls).
  *
  * Error contract (Neo4j's HTTP shape, with one explicit divergence):
  * statements run IN ORDER until the first failure; the response is
  * HTTP 200 with the failure in the in-band `errors` array (Neo4j-style —
  * clients must check `errors`, not the status code). UNLIKE Neo4j there
  * is NO rollback: the store's writes are set-oriented idempotent MERGEs,
  * not transactions, so the effects of statements before the failing one
  * persist. The response makes that observable — `results` holds exactly
  * one entry per statement that executed, and the error carries the
  * failing statement's `offset`. Malformed requests (bad JSON, missing
  * `statements`) also answer 200 with a `Request.InvalidFormat` error;
  * only a non-POST method gets an out-of-band 405.
  *
  * Scale posture: the server is a thin adapter — every statement compiles
  * to the same set-oriented Spark plans the library runs everywhere else;
  * a read drains with one bounded collect ([[graft.cypher.CypherRows.take]]:
  * at most `maxRows + 1` rows on the driver), so a runaway
  * `MATCH (n) RETURN n` cannot buffer an unbounded result in the server
  * JVM, and `truncated` reports whether the cap cut rows off. Write
  * statements report Neo4j-style counters instead of rows. JSON via the
  * Jackson already on Spark's classpath; HTTP via the JDK's HttpServer —
  * zero new dependencies, loopback-tested in HttpQueryServerSpec.
  */
final class HttpQueryServer(session: CypherSession, maxRows: Int = 10000) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  /** Start on the given port (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "server already started")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/query", (ex: HttpExchange) => handle(ex))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }

  private def handle(ex: HttpExchange): Unit = {
    import scala.util.control.NonFatal
    val out = mapper.createObjectNode()
    val results = out.putArray("results")
    val errors = out.putArray("errors")
    def addError(code: String, e: Throwable, offset: Int = -1): Unit = {
      val err = errors.addObject()
      err.put("code", code)
      if (offset >= 0) err.put("offset", offset)
      err.put("message", Option(e.getMessage).getOrElse(e.getClass.getName))
    }
    val status =
      if (ex.getRequestMethod != "POST") {
        addError("Neo.ClientError.Request.Invalid",
          new IllegalArgumentException("only POST is supported"))
        405
      } else {
        try {
          val body = mapper.readTree(ex.getRequestBody)
          val stmts = Option(body.get("statements"))
            .collect { case a: ArrayNode => a.elements().asScala.toSeq }
            .getOrElse(throw new IllegalArgumentException(
              """body must be {"statements": [{"statement": "..."}]}"""))
          // in order, stop at first failure; earlier writes PERSIST (see
          // class doc: idempotent MERGEs, no transaction to roll back) —
          // NonFatal only, a JVM-fatal error must not be rendered as a
          // statement error by a server that keeps serving
          var failed = false
          stmts.zipWithIndex.foreach { case (st, i) =>
            if (!failed) try {
              val q = Option(st.get("statement")).map(_.asText())
                .getOrElse(throw new IllegalArgumentException("missing statement"))
              val params = Option(st.get("parameters"))
                .collect { case o: ObjectNode => o.fields().asScala
                  .map(e => e.getKey -> jsonToParam(e.getValue)).toMap }
                .getOrElse(Map.empty[String, Any])
              results.add(render(session.run(q, params)))
            } catch {
              case NonFatal(e) =>
                failed = true
                addError("Neo.ClientError.Statement.Error", e, offset = i)
            }
          }
        } catch {
          case NonFatal(e) => addError("Neo.ClientError.Request.InvalidFormat", e)
        }
        200
      }
    val bytes = mapper.writeValueAsBytes(out)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** JSON parameter values → the session's `$param` types. */
  private def jsonToParam(n: com.fasterxml.jackson.databind.JsonNode): Any = n match {
    case a: ArrayNode => a.elements().asScala.map(jsonToParam).toSeq
    case o: ObjectNode => o.fields().asScala
      .map(e => e.getKey -> jsonToParam(e.getValue)).toMap
    case v if v.isIntegralNumber => v.asLong()
    case v if v.isNumber => v.asDouble()
    case v if v.isBoolean => v.asBoolean()
    case v if v.isNull => null
    case v => v.asText()
  }

  private def render(res: CypherResult): ObjectNode = {
    val node = mapper.createObjectNode()
    res match {
      case r @ CypherRows(df) =>
        val cols = node.putArray("columns")
        df.columns.foreach(cols.add)
        val data = node.putArray("data")
        val (rows, truncated) = r.take(maxRows)
        rows.foreach { row =>
          val arr = data.addObject().putArray("row")
          (0 until row.length).foreach { i =>
            if (row.isNullAt(i)) arr.addNull()
            else row.get(i) match {
              case l: Long => arr.add(l)
              case i2: Int => arr.add(i2)
              case d: Double => arr.add(d)
              case b: Boolean => arr.add(b)
              case other => arr.add(String.valueOf(other))
            }
          }
        }
        node.put("truncated", truncated)
      case CypherMutation(_, created, matched) =>
        node.putArray("columns"); node.putArray("data")
        val st = node.putObject("stats")
        st.put("nodesCreated", created); st.put("nodesMatched", matched)
      case w: CypherWrite =>
        node.putArray("columns"); node.putArray("data")
        val st = node.putObject("stats")
        st.put("propertiesSet", w.propertiesSet)
        st.put("propertiesRemoved", w.propertiesRemoved)
        st.put("nodesDeleted", w.nodesDeleted)
        st.put("relationshipsDeleted", w.relationshipsDeleted)
        st.put("relationshipsCreated", w.relationshipsCreated)
    }
    node
  }
}
