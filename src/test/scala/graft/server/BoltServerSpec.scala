package graft.server

import graft.SparkTestBase
import graft.cypher.CypherSession
import graft.graph.{GraphStore, PropertyGraph}
import graft.server.PackStream.Struct
import org.apache.spark.sql.functions._

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket

/** Loopback-drives the Bolt listener with a from-scratch client (socket +
  * the PackStream codec): handshake version negotiation, HELLO/LOGON, RUN /
  * PULL flow control with has_more, write counters, the FAILURE → IGNORED →
  * RESET state machine, and the documented ROLLBACK divergence. The wire
  * bytes cross a real TCP socket — nothing is short-circuited in-process. */
class BoltServerSpec extends SparkTestBase {

  /** Minimal Bolt client: classic handshake + chunked PackStream messages. */
  private final class Client(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

    /** Returns the negotiated (major, minor), or None on 00000000. */
    def handshake(proposals: Seq[Int]): Option[(Int, Int)] = {
      out.write(Array[Byte](0x60, 0x60, 0xB0.toByte, 0x17))
      require(proposals.size == 4)
      proposals.foreach(out.writeInt)
      out.flush()
      val v = in.readInt()
      if (v == 0) None else Some((v & 0xFF, (v >> 8) & 0xFF))
    }

    def send(tag: Int, fields: Any*): Unit = {
      val body = new ByteArrayOutputStream()
      PackStream.write(new DataOutputStream(body), Struct(tag.toByte, fields))
      val bytes = body.toByteArray
      out.writeShort(bytes.length)
      out.write(bytes)
      out.writeShort(0)
      out.flush()
    }

    def recv(): Struct = {
      val buf = new ByteArrayOutputStream()
      var done = false
      while (!done) {
        val size = in.readUnsignedShort()
        if (size == 0 && buf.size() > 0) done = true
        else if (size > 0) {
          val chunk = new Array[Byte](size)
          in.readFully(chunk)
          buf.write(chunk)
        }
      }
      PackStream.read(new DataInputStream(new ByteArrayInputStream(buf.toByteArray)))
        .asInstanceOf[Struct]
    }

    def close(): Unit = sock.close()
  }

  private def meta(s: Struct): Map[String, Any] =
    s.fields.head.asInstanceOf[Map[String, Any]]

  // proposal bytes: [pad, range, minor, major]
  private def propose(major: Int, minor: Int, range: Int = 0): Int =
    (range << 16) | (minor << 8) | major

  private def newServer(maxRows: Int = 10000): (BoltServer, Int, CypherSession) = {
    val sess = new CypherSession(PropertyGraph.empty(spark),
      clock = () => lit("2026-01-01 00:00:00"))
    val server = new BoltServer(sess, maxRows)
    val port = server.start()
    (server, port, sess)
  }

  /** A server over a persisted store of `n` Articles: the parquet scan
    * `graft.Serve` boots from, so plans run as they do in production
    * rather than over in-memory local relations. The store keeps its
    * range partitions as separate files (a tiny store would otherwise be
    * coalesced into one), so a scan spans several partitions as a real
    * store's does. */
  private def storeServer(n: Int): (BoltServer, Int) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bolt_store").toString + "/g"
    val arts = (1 to n).map { i =>
      ("Article", s"https://ex.org/$i", Map("link" -> s"https://ex.org/$i", "title" -> s"title $i"))
    }.toDF("label", "key", "props")
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try GraphStore.write(PropertyGraph.empty(spark).mergeNodes(arts), dir)
    finally spark.conf.unset(coalesce)
    val server = new BoltServer(new CypherSession(GraphStore.read(spark, dir)))
    (server, server.start())
  }

  /** A connected 5.4 client past HELLO; returns it with HELLO's metadata. */
  private def hello(port: Int): (Client, Map[String, Any]) = {
    val c = new Client(port)
    assert(c.handshake(Seq(propose(5, 4), 0, 0, 0)).contains((5, 4)))
    c.send(0x01, Map("user_agent" -> "spec/1.0"))
    val h = c.recv()
    assert((h.tag & 0xFF) == 0x70, h)
    (c, meta(h))
  }

  /** PULLs in batches of `n` until the summary; returns the records of
    * each batch and the final summary. */
  private def pullAll(c: Client, n: Long): (Seq[Seq[Seq[Any]]], Map[String, Any]) = {
    val batches = Seq.newBuilder[Seq[Seq[Any]]]
    var summary: Map[String, Any] = null
    while (summary == null) {
      c.send(0x3F, Map("n" -> n))
      val batch = Seq.newBuilder[Seq[Any]]
      var m = c.recv()
      while ((m.tag & 0xFF) == 0x71) { batch += m.fields.head.asInstanceOf[Seq[Any]]; m = c.recv() }
      assert((m.tag & 0xFF) == 0x70, m)
      batches += batch.result()
      if (!meta(m).get("has_more").contains(true)) summary = meta(m)
    }
    (batches.result(), summary)
  }

  test("handshake: range expansion picks the highest supported; unsupported gets 00000000") {
    val (server, port, _) = newServer()
    try {
      // modern driver shape: 5.4 down to 5.1 as a range, then fallbacks
      val c1 = new Client(port)
      assert(c1.handshake(Seq(propose(5, 4, range = 3), propose(5, 0), propose(4, 4), 0))
        .contains((5, 4)))
      c1.close()
      // only 4.4 on offer
      val c2 = new Client(port)
      assert(c2.handshake(Seq(propose(4, 4), 0, 0, 0)).contains((4, 4)))
      c2.close()
      // nothing supported → 00000000 and close
      val c3 = new Client(port)
      assert(c3.handshake(Seq(propose(3, 0), propose(1, 0), 0, 0)).isEmpty)
      c3.close()
    } finally server.stop()
  }

  test("round-10: ROUTE answers the standalone self-routing table (neo4j:// scheme)") {
    val (server, port, _) = newServer()
    try {
      val c = new Client(port)
      assert(c.handshake(Seq(propose(5, 4), 0, 0, 0)).contains((5, 4)))
      c.send(0x01, Map("user_agent" -> "spec/1.0"))
      assert((c.recv().tag & 0xFF) == 0x70)
      // ROUTE(routing, bookmarks, extra) — the first thing a neo4j://
      // driver sends; a standalone server must point every role at itself
      c.send(0x66, Map("address" -> s"localhost:$port"),
        Seq.empty[String], Map.empty[String, Any])
      val route = c.recv()
      assert((route.tag & 0xFF) == 0x70, route)
      val rt = meta(route)("rt").asInstanceOf[Map[String, Any]]
      assert(rt("db") == "neo4j" && rt("ttl") == 300L)
      val servers = rt("servers").asInstanceOf[Seq[Map[String, Any]]]
      assert(servers.map(_("role")).toSet === Set("WRITE", "READ", "ROUTE"))
      assert(servers.forall(_("addresses") == Seq(s"localhost:$port")))
      // round-11 (ADVICE r10 #3): the advertised address echoes what the
      // CLIENT dialed — a remote client must not be routed to its own
      // loopback. An empty routing context still falls back to loopback.
      c.send(0x66, Map("address" -> "db.example.com:7687"),
        Seq.empty[String], Map.empty[String, Any])
      val remote = c.recv()
      assert((remote.tag & 0xFF) == 0x70, remote)
      val rt2 = meta(remote)("rt").asInstanceOf[Map[String, Any]]
      val servers2 = rt2("servers").asInstanceOf[Seq[Map[String, Any]]]
      assert(servers2.forall(_("addresses") == Seq("db.example.com:7687")))
      c.send(0x66, Map.empty[String, Any],
        Seq.empty[String], Map.empty[String, Any])
      val bare = c.recv()
      assert((bare.tag & 0xFF) == 0x70, bare)
      val rt3 = meta(bare)("rt").asInstanceOf[Map[String, Any]]
      val servers3 = rt3("servers").asInstanceOf[Seq[Map[String, Any]]]
      assert(servers3.forall(_("addresses") == Seq(s"localhost:$port")))
      c.close()
    } finally server.stop()
  }

  test("RUN/PULL: rows stream under flow control, summary carries type r") {
    val (server, port, _) = newServer()
    try {
      val c = new Client(port)
      assert(c.handshake(Seq(propose(5, 1), 0, 0, 0)).contains((5, 1)))
      c.send(0x01, Map("user_agent" -> "spec/1.0")) // HELLO
      val hello = c.recv()
      assert((hello.tag & 0xFF) == 0x70)
      assert(meta(hello)("server").asInstanceOf[String].startsWith("Neo4j/"))
      c.send(0x6A, Map("scheme" -> "none")) // LOGON (5.1+)
      assert((c.recv().tag & 0xFF) == 0x70)

      c.send(0x10, "UNWIND [3, 1, 2] AS x RETURN x ORDER BY x", Map.empty[String, Any],
        Map.empty[String, Any]) // RUN
      val run = c.recv()
      assert((run.tag & 0xFF) == 0x70)
      assert(meta(run)("fields") == Seq("x"))

      // PULL n=2: two records then has_more
      c.send(0x3F, Map("n" -> 2L))
      val r1 = c.recv(); val r2 = c.recv(); val more = c.recv()
      assert((r1.tag & 0xFF) == 0x71 && r1.fields.head == Seq(1L))
      assert((r2.tag & 0xFF) == 0x71 && r2.fields.head == Seq(2L))
      assert((more.tag & 0xFF) == 0x70 && meta(more)("has_more") == true)
      // PULL the rest: final record + summary
      c.send(0x3F, Map("n" -> -1L))
      val r3 = c.recv(); val done = c.recv()
      assert(r3.fields.head == Seq(3L))
      assert((done.tag & 0xFF) == 0x70)
      assert(meta(done)("type") == "r")
      c.send(0x02) // GOODBYE
      c.close()
    } finally server.stop()
  }

  test("round-11: the GraphRAG statements run over the Bolt wire — setter, vector + fulltext queryNodes") {
    val (server, port, sess) = newServer()
    try {
      // seed the store server-side (the import path is covered elsewhere)
      Seq("c1" -> "spark joins fast", "c2" -> "flink streams slow").foreach {
        case (id, title) =>
          sess.run(s"MERGE (c:Chunk {name: '$id'}) SET c.title = '$title'")
      }
      sess.run("""CREATE VECTOR INDEX ce FOR (c:Chunk) ON c.embedding
                 |OPTIONS {indexConfig: {`vector.dimensions`: 4}}""".stripMargin)
      sess.run("CREATE FULLTEXT INDEX fe FOR (c:Chunk) ON EACH [c.title]")
      val c = new Client(port)
      assert(c.handshake(Seq(propose(5, 4), 0, 0, 0)).contains((5, 4)))
      c.send(0x01, Map("user_agent" -> "langchain-ish/1.0"))
      assert((c.recv().tag & 0xFF) == 0x70)
      // the setter over the wire, with the embedding as a LIST parameter —
      // exactly how a driver ships it
      def runPull(q: String, params: Map[String, Any]): Seq[Seq[Any]] = {
        c.send(0x10, q, params, Map.empty[String, Any])
        val run = c.recv()
        assert((run.tag & 0xFF) == 0x70, run)
        c.send(0x3F, Map("n" -> -1L))
        val out = Seq.newBuilder[Seq[Any]]
        var done = false
        while (!done) {
          val m = c.recv()
          if ((m.tag & 0xFF) == 0x71) out += m.fields.head.asInstanceOf[Seq[Any]]
          else { assert((m.tag & 0xFF) == 0x70, m); done = true }
        }
        out.result()
      }
      assert(runPull(
        "MATCH (x:Chunk {name: 'c1'}) " +
          "CALL db.create.setNodeVectorProperty(x, 'embedding', $v) " +
          "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
        Map("v" -> Seq(1.0, 0.0, 0.0, 0.0))) === Seq(Seq(1L)))
      assert(runPull(
        "MATCH (x:Chunk {name: 'c2'}) " +
          "CALL db.create.setNodeVectorProperty(x, 'embedding', $v) " +
          "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
        Map("v" -> Seq(0.0, 1.0, 0.0, 0.0))) === Seq(Seq(1L)))
      // vector retrieval over the wire
      val hits = runPull(
        "CALL db.index.vector.queryNodes('ce', 1, $q) YIELD node, score " +
          "RETURN node.name AS nm, score",
        Map("q" -> Seq(1.0, 0.0, 0.0, 0.0)))
      assert(hits === Seq(Seq("c1", 1.0)), hits)
      // fulltext retrieval over the wire
      val ft = runPull(
        "CALL db.index.fulltext.queryNodes('fe', 'spark') " +
          "YIELD node, score RETURN node.name AS nm",
        Map.empty)
      assert(ft === Seq(Seq("c1")), ft)
      c.send(0x02)
      c.close()
    } finally server.stop()
  }

  test("round-12: a langchain-neo4j session over the wire — refresh_schema, " +
      "add_graph_documents, index discovery, default retrieval") {
    val (server, port, _) = newServer()
    try {
      val c = new Client(port)
      assert(c.handshake(Seq(propose(5, 4), 0, 0, 0)).contains((5, 4)))
      c.send(0x01, Map("user_agent" -> "neo4j-python/5.x langchain"))
      assert((c.recv().tag & 0xFF) == 0x70)
      def runPull(q: String, params: Map[String, Any]): Seq[Seq[Any]] = {
        c.send(0x10, q, params, Map.empty[String, Any])
        val run = c.recv()
        assert((run.tag & 0xFF) == 0x70, run)
        c.send(0x3F, Map("n" -> -1L))
        val out = Seq.newBuilder[Seq[Any]]
        var done = false
        while (!done) {
          val m = c.recv()
          if ((m.tag & 0xFF) == 0x71) out += m.fields.head.asInstanceOf[Seq[Any]]
          else { assert((m.tag & 0xFF) == 0x70, m); done = true }
        }
        out.result()
      }
      // 1. add_graph_documents: node + relationship imports, verbatim
      assert(runPull(
        "UNWIND $data AS row CALL apoc.merge.node([row.type], {id: row.id}, " +
          "row.properties, {}) YIELD node RETURN distinct 'done' AS result",
        Map("data" -> Seq(
          Map("id" -> "marie", "type" -> "Person",
            "properties" -> Map("born" -> "1867")),
          Map("id" -> "radium", "type" -> "Element",
            "properties" -> Map("symbol" -> "Ra")))))
        === Seq(Seq("done")))
      assert(runPull(
        "UNWIND $data AS row " +
          "CALL apoc.merge.node([row.source_label], {id: row.source},{},{}) " +
          "YIELD node as source " +
          "CALL apoc.merge.node([row.target_label], {id: row.target},{},{}) " +
          "YIELD node as target " +
          "CALL apoc.merge.relationship(source, row.type, {}, " +
          "row.properties, target) YIELD rel RETURN distinct 'done'",
        Map("data" -> Seq(Map(
          "source" -> "marie", "source_label" -> "Person",
          "target" -> "radium", "target_label" -> "Element",
          "type" -> "DISCOVERED", "properties" -> Map("year" -> "1898")))))
        .nonEmpty)
      // 2. refresh_schema: the rel_query topology statement over the wire
      // (structs/arrays encode as Bolt maps/lists)
      val topo = runPull(
        """CALL apoc.meta.data()
          |YIELD label, other, elementType, type, property
          |WHERE type = "RELATIONSHIP" AND elementType = "node"
          |UNWIND other AS other_node
          |RETURN {start: label, type: property, end: toString(other_node)} AS output""".stripMargin,
        Map.empty)
      assert(topo.size === 1)
      val m = topo.head.head.asInstanceOf[Map[String, Any]]
      assert(m === Map("start" -> "Person", "type" -> "DISCOVERED",
        "end" -> "Element"), m)
      // 3. Neo4jVector init: embeddings + index + existence discovery
      assert(runPull(
        "MATCH (p:Person {id: 'marie'}) " +
          "CALL db.create.setNodeVectorProperty(p, 'embedding', $v) " +
          "YIELD nodePropertiesWritten RETURN nodePropertiesWritten",
        Map("v" -> Seq(1.0, 0.0))) === Seq(Seq(1L)))
      runPull("CREATE VECTOR INDEX vector IF NOT EXISTS FOR (p:Person) " +
        "ON p.embedding OPTIONS {indexConfig: {`vector.dimensions`: 2}}",
        Map.empty)
      val found = runPull(
        """SHOW INDEXES YIELD name, type, labelsOrTypes, properties, options
          |WHERE type = 'VECTOR' AND (name = $index_name
          |OR (labelsOrTypes[0] = $node_label
          |AND properties[0] = $embedding_node_property))
          |RETURN name, labelsOrTypes, properties""".stripMargin,
        Map("index_name" -> "vector", "node_label" -> "Person",
          "embedding_node_property" -> "embedding"))
      assert(found === Seq(Seq("vector", Seq("Person"), Seq("embedding"))),
        found)
      // 4. the DEFAULT retrieval template, verbatim (map-projection
      // overrides null the payload out of the returned metadata)
      val hits = runPull(
        "CALL db.index.vector.queryNodes($index, $k, $embedding) " +
          "YIELD node, score " +
          "RETURN node.`id` AS text, score, " +
          "node {.*, `id`: Null, `embedding`: Null } AS metadata",
        Map("index" -> "vector", "k" -> 1, "embedding" -> Seq(1.0, 0.0)))
      assert(hits.size === 1)
      assert(hits.head.head === "marie")
      val md = hits.head(2).asInstanceOf[Map[String, Any]]
      assert(md("id") == null && md("embedding") == null &&
        md("born") === "1867", md)
      c.send(0x02)
      c.close()
    } finally server.stop()
  }

  test("temporal values decode as tagged Bolt structs, version-gated DateTime") {
    val (server, port, _) = newServer()
    val q = """UNWIND [1] AS x
              |RETURN datetime('2026-02-03T04:05:06') AS dt,
              |  date('2026-02-03') AS d,
              |  duration.between(datetime('2026-02-03T00:00:00'),
              |                   datetime('2026-02-03T04:05:06')) AS du,
              |  point({x: 3, y: 4}) AS p""".stripMargin
    // the same wall-clock string the server parses — tz-independent expectation
    val expectSec = java.sql.Timestamp.valueOf("2026-02-03 04:05:06")
      .toInstant.getEpochSecond
    def runAndRecord(c: Client): Struct = {
      c.send(0x01, Map("user_agent" -> "spec/1.0")); c.recv()
      c.send(0x10, q, Map.empty[String, Any], Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x3F, Map("n" -> -1L))
      val rec = c.recv(); assert((rec.tag & 0xFF) == 0x71)
      assert((c.recv().tag & 0xFF) == 0x70) // summary
      rec
    }
    try {
      // Bolt 5.x: modern UTC DateTime 'I' (seconds, nanos, offset)
      val c5 = new Client(port)
      assert(c5.handshake(Seq(propose(5, 4), 0, 0, 0)).contains((5, 4)))
      val row5 = runAndRecord(c5).fields.head.asInstanceOf[Seq[Any]]
      assert(row5(0) === Struct('I'.toByte, Seq(expectSec, 0L, 0L)))
      assert(row5(1) === Struct('D'.toByte,
        Seq(java.time.LocalDate.of(2026, 2, 3).toEpochDay)))
      assert(row5(2) === Struct('E'.toByte, Seq(0L, 0L, 4 * 3600L + 5 * 60 + 6, 0L)))
      assert(row5(3) === Struct('X'.toByte, Seq(7203L, 3.0, 4.0))) // Point2D
      c5.close()
      // Bolt 4.4: the legacy 'F' DateTime tag, identical fields at UTC
      val c4 = new Client(port)
      assert(c4.handshake(Seq(propose(4, 4), 0, 0, 0)).contains((4, 4)))
      val row4 = runAndRecord(c4).fields.head.asInstanceOf[Seq[Any]]
      assert(row4(0) === Struct('F'.toByte, Seq(expectSec, 0L, 0L)))
      assert(row4(1) === row5(1) && row4(2) === row5(2)) // tags beyond DateTime don't gate
      c4.close()
    } finally server.stop()
  }

  test("the reference's own write + read-back round trip over Bolt") {
    val (server, port, _) = newServer()
    try {
      val c = new Client(port)
      c.handshake(Seq(propose(5, 0), 0, 0, 0))
      c.send(0x01, Map("user_agent" -> "spec/1.0"))
      c.recv()
      // the reference's MERGE shape (crwling.py:47-56) with $params
      c.send(0x10,
        "MERGE (u:User {name: $n}) MERGE (t:Tech {name: $t}) MERGE (u)-[:INTERESTED_IN]->(t)",
        Map("n" -> "ada", "t" -> "spark"), Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x3F, Map("n" -> -1L))
      val wdone = c.recv()
      assert((wdone.tag & 0xFF) == 0x70)
      val stats = meta(wdone)("stats").asInstanceOf[Map[String, Any]]
      assert(meta(wdone)("type") == "w")
      assert(stats("nodes-created") == 2L)

      c.send(0x10,
        "MATCH (u:User)-[:INTERESTED_IN]->(t:Tech) RETURN u.name AS user, t.name AS tech",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(meta(c.recv())("fields") == Seq("user", "tech"))
      c.send(0x3F, Map("n" -> -1L))
      val rec = c.recv(); val done = c.recv()
      assert(rec.fields.head == Seq("ada", "spark"))
      assert((done.tag & 0xFF) == 0x70)
      c.close()
    } finally server.stop()
  }

  test("state machine: FAILURE parks the connection, IGNORED until RESET; ROLLBACK is an explicit failure") {
    val (server, port, _) = newServer()
    try {
      val c = new Client(port)
      c.handshake(Seq(propose(5, 0), 0, 0, 0))
      c.send(0x01, Map("user_agent" -> "spec/1.0"))
      c.recv()
      c.send(0x10, "THIS IS NOT CYPHER", Map.empty[String, Any], Map.empty[String, Any])
      val fail = c.recv()
      assert((fail.tag & 0xFF) == 0x7F)
      assert(meta(fail)("code").asInstanceOf[String].startsWith("Neo.ClientError"))
      // everything but RESET is IGNORED while failed
      c.send(0x10, "RETURN 1 AS x", Map.empty[String, Any], Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x7E)
      c.send(0x3F, Map("n" -> -1L))
      assert((c.recv().tag & 0xFF) == 0x7E)
      // RESET recovers
      c.send(0x0F)
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x10, "RETURN 1 AS x", Map.empty[String, Any], Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x3F, Map("n" -> -1L))
      assert(c.recv().fields.head == Seq(1L))
      c.recv()
      // tx verbs outside a transaction are explicit failures
      c.send(0x12)
      val badCommit = c.recv()
      assert((badCommit.tag & 0xFF) == 0x7F)
      assert(meta(badCommit)("message").asInstanceOf[String].contains("no open transaction"))
      c.send(0x0F); c.recv()
      c.send(0x13)
      val badRb = c.recv()
      assert((badRb.tag & 0xFF) == 0x7F)
      assert(meta(badRb)("message").asInstanceOf[String].contains("no open transaction"))
      c.send(0x0F); c.recv()
      // nested BEGIN is rejected
      c.send(0x11, Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x11, Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x7F)
      c.close()
    } finally server.stop()
  }

  test("explicit transaction: COMMIT applies buffered writes, ROLLBACK discards them") {
    val (server, port, _) = newServer()
    try {
      val c = new Client(port)
      assert(c.handshake(Seq(propose(5, 4, range = 3), 0, 0, 0)).contains((5, 4)))
      c.send(0x01, Map("user_agent" -> "spec/1.0")); c.recv()

      // --- commit path: BEGIN, two deferred writes, COMMIT ---
      c.send(0x11, Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x10, "MERGE (u:User {name: $n})", Map("n" -> "ada"), Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x3F, Map("n" -> -1L))
      val defd = c.recv()
      assert((defd.tag & 0xFF) == 0x70)
      assert(meta(defd)("deferred_until_commit") == true)
      c.send(0x10, "MERGE (t:Tech {name: $t})", Map("t" -> "spark"), Map.empty[String, Any])
      c.recv(); c.send(0x3F, Map("n" -> -1L)); c.recv()
      // a read INSIDE the tx sees the committed store — nothing yet
      // (documented divergence: no read-your-buffered-writes)
      c.send(0x10, "MATCH (u:User) RETURN u.name AS name",
        Map.empty[String, Any], Map.empty[String, Any])
      c.recv(); c.send(0x3F, Map("n" -> -1L))
      val preCommit = c.recv()
      assert((preCommit.tag & 0xFF) == 0x70) // summary straight away: 0 rows
      c.send(0x12) // COMMIT
      val committed = c.recv()
      assert((committed.tag & 0xFF) == 0x70)
      val stats = meta(committed)("stats").asInstanceOf[Map[String, Any]]
      assert(stats("nodes-created") == 2L)
      // read-back AFTER commit sees both writes
      c.send(0x10, "MATCH (n) RETURN n.name AS name ORDER BY name",
        Map.empty[String, Any], Map.empty[String, Any])
      c.recv(); c.send(0x3F, Map("n" -> -1L))
      assert(c.recv().fields.head == Seq("ada"))
      assert(c.recv().fields.head == Seq("spark"))
      assert((c.recv().tag & 0xFF) == 0x70)

      // --- rollback path: a buffered write is discarded ---
      c.send(0x11, Map.empty[String, Any]); c.recv()
      c.send(0x10, "MERGE (u:User {name: 'ghost'})",
        Map.empty[String, Any], Map.empty[String, Any])
      c.recv(); c.send(0x3F, Map("n" -> -1L)); c.recv()
      c.send(0x13) // ROLLBACK
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x10, "MATCH (u:User {name: 'ghost'}) RETURN u.name AS name",
        Map.empty[String, Any], Map.empty[String, Any])
      c.recv(); c.send(0x3F, Map("n" -> -1L))
      val gone = c.recv()
      assert((gone.tag & 0xFF) == 0x70) // summary only: rollback really discarded
      c.close()
    } finally server.stop()
  }

  test("buffered write with RETURN fails the RUN loudly instead of discarding rows") {
    val (server, port, _) = newServer()
    try {
      val c = new Client(port)
      assert(c.handshake(Seq(propose(5, 4, range = 3), 0, 0, 0)).contains((5, 4)))
      c.send(0x01, Map("user_agent" -> "spec/1.0")); c.recv()
      c.send(0x11, Map.empty[String, Any]); c.recv() // BEGIN
      // MERGE … RETURN n is valid in the mutate grammar, but its rows
      // would only exist at COMMIT — the RUN must FAIL, not stream zero
      // rows and silently discard the result (ADVICE r9 #2)
      c.send(0x10, "MERGE (u:User {name: 'ada'}) RETURN u",
        Map.empty[String, Any], Map.empty[String, Any])
      val f = c.recv()
      assert((f.tag & 0xFF) == 0x7F, f) // FAILURE
      val fm = f.fields.head.asInstanceOf[Map[String, Any]]
      assert(fm("message").toString.contains("RETURN"), fm)
      // the failure parks the connection (Bolt state machine): RESET,
      // then a fresh tx with a RETURN-free write buffers and commits
      c.send(0x10, "MERGE (u:User {name: 'x'})",
        Map.empty[String, Any], Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x7E) // IGNORED until RESET
      c.send(0x0F); assert((c.recv().tag & 0xFF) == 0x70) // RESET
      c.send(0x11, Map.empty[String, Any]); c.recv() // BEGIN
      c.send(0x10, "MERGE (u:User {name: 'ada'})",
        Map.empty[String, Any], Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x3F, Map("n" -> -1L)); c.recv()
      c.send(0x12) // COMMIT
      val committed = c.recv()
      assert((committed.tag & 0xFF) == 0x70)
      val stats = meta(committed)("stats").asInstanceOf[Map[String, Any]]
      assert(stats("nodes-created") == 1L)
      // auto-commit MERGE … RETURN keeps its documented behavior (write
      // applies, stats summary, no row stream — the pre-existing
      // documented divergence): only the BUFFERED form now fails
      c.send(0x10, "MERGE (t:Tech {name: 'spark'}) RETURN t",
        Map.empty[String, Any], Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x3F, Map("n" -> -1L))
      val autoSummary = c.recv()
      assert((autoSummary.tag & 0xFF) == 0x70)
      val autoStats = meta(autoSummary)("stats").asInstanceOf[Map[String, Any]]
      assert(autoStats("nodes-created") == 1L)
      c.close()
    } finally server.stop()
  }

  test("multi-PULL batched streaming with has_more on a 5.x connection") {
    val (server, port, _) = newServer()
    try {
      val c = new Client(port)
      assert(c.handshake(Seq(propose(5, 4, range = 3), 0, 0, 0)).contains((5, 4)))
      c.send(0x01, Map("user_agent" -> "spec/1.0")); c.recv()
      c.send(0x10, "UNWIND range(1, 7) AS x RETURN x ORDER BY x",
        Map.empty[String, Any], Map.empty[String, Any])
      assert(meta(c.recv())("fields") == Seq("x"))
      // drain in PULL {n: 3} batches: 3 + 3 + 1, has_more on the first two
      var collected = Seq.empty[Long]
      var more = true
      var batches = 0
      while (more) {
        c.send(0x3F, Map("n" -> 3L))
        var rec = c.recv()
        while ((rec.tag & 0xFF) == 0x71) {
          collected :+= rec.fields.head.asInstanceOf[Seq[Any]].head.asInstanceOf[Long]
          rec = c.recv()
        }
        assert((rec.tag & 0xFF) == 0x70)
        more = meta(rec).get("has_more").contains(true)
        batches += 1
      }
      assert(batches == 3)
      assert(collected == (1L to 7L))
      // a RESET between results leaves the connection usable
      c.send(0x0F); assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x10, "RETURN 1 AS one", Map.empty[String, Any], Map.empty[String, Any])
      c.recv(); c.send(0x3F, Map("n" -> -1L))
      assert(c.recv().fields.head == Seq(1L))
      c.recv()
      c.close()
    } finally server.stop()
  }

  test("concurrent connections each report their own connection id") {
    val (server, port, _) = newServer()
    try {
      // both connections are open before either says HELLO, so an id read
      // from a server-wide counter would give both the newest one
      val a = new Client(port)
      assert(a.handshake(Seq(propose(5, 4), 0, 0, 0)).contains((5, 4)))
      val (b, helloB) = hello(port)
      a.send(0x01, Map("user_agent" -> "spec/1.0"))
      val helloA = meta(a.recv())
      assert(helloA("connection_id") != helloB("connection_id"), (helloA, helloB))
      // COMMIT's bookmark names the committing connection too
      def commitBookmark(c: Client): Any = {
        c.send(0x11, Map.empty[String, Any]); c.recv()
        c.send(0x12)
        meta(c.recv())("bookmark")
      }
      assert(commitBookmark(a) != commitBookmark(b))
      a.close(); b.close()
    } finally server.stop()
  }

  test("a statement that fails while its rows are computed gets a FAILURE " +
      "and the connection survives") {
    val (server, port) = storeServer(8)
    try {
      val (c, _) = hello(port)
      // parses and compiles; the ANSI cast of a non-numeric title throws
      // only when the scan's rows are evaluated
      c.send(0x10, "MATCH (a:Article) RETURN a.title * 2 AS x",
        Map.empty[String, Any], Map.empty[String, Any])
      val fail = c.recv()
      assert((fail.tag & 0xFF) == 0x7F, fail)
      assert(meta(fail)("code") == "Neo.DatabaseError.Statement.ExecutionFailed", fail)
      c.send(0x0F)
      assert((c.recv().tag & 0xFF) == 0x70)
      c.send(0x10, "RETURN 1 AS x", Map.empty[String, Any], Map.empty[String, Any])
      assert((c.recv().tag & 0xFF) == 0x70)
      val (batches, _) = pullAll(c, -1L)
      assert(batches.flatten == Seq(Seq(1L)))
      c.close()
    } finally server.stop()
  }

  test("t_first and t_last report the RUN-to-rows and streaming times") {
    val (server, port) = storeServer(8)
    try {
      val (c, _) = hello(port)
      c.send(0x10, "MATCH (a:Article) RETURN a.title AS t ORDER BY t",
        Map.empty[String, Any], Map.empty[String, Any])
      val run = meta(c.recv())
      val (batches, summary) = pullAll(c, 3L)
      assert(batches.map(_.size) == Seq(3, 3, 2))
      run("t_first") match {
        case t: Long => assert(t >= 1L, run) // compile + a Spark job
        case other => fail(s"t_first is not a Long: $other")
      }
      assert(summary("t_last").isInstanceOf[Long], summary)
      c.close()
    } finally server.stop()
  }

  test("maxRows caps the records streamed, across PULL batches too") {
    val (server, port, _) = newServer(maxRows = 5)
    try {
      val (c, _) = hello(port)
      val q = "UNWIND range(1, 7) AS x RETURN x ORDER BY x"
      c.send(0x10, q, Map.empty[String, Any], Map.empty[String, Any]); c.recv()
      val (all, _) = pullAll(c, -1L)
      assert(all.flatten == (1L to 5L).map(Seq(_)))
      c.send(0x10, q, Map.empty[String, Any], Map.empty[String, Any]); c.recv()
      val (batched, summary) = pullAll(c, 2L)
      assert(batched.map(_.size) == Seq(2, 2, 1))
      assert(batched.flatten == (1L to 5L).map(Seq(_)))
      assert(summary("type") == "r")
      c.close()
    } finally server.stop()
  }

  test("a LIMIT read over Bolt runs one job, one stage and no shuffle") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val (server, port) = storeServer(40)
    val sc = spark.sparkContext
    val counts = new java.util.concurrent.atomic.AtomicLongArray(3) // jobs, stages, shuffle bytes
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = counts.incrementAndGet(0)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        counts.incrementAndGet(1)
        val m = e.stageInfo.taskMetrics
        counts.addAndGet(2, m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      }
    }
    try {
      val (c, _) = hello(port)
      val q = "MATCH (a:Article) RETURN a.title LIMIT 5"
      def readBack(): Seq[Seq[Any]] = {
        c.send(0x10, q, Map.empty[String, Any], Map.empty[String, Any])
        assert((c.recv().tag & 0xFF) == 0x70)
        pullAll(c, -1L)._1.flatten
      }
      assert(readBack().size == 5) // a warm-up run, not counted
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      assert(readBack().size == 5)
      org.apache.spark.ListenerBusDrain(sc)
      assert((counts.get(0), counts.get(1), counts.get(2)) == ((1L, 1L, 0L)),
        "jobs, stages, shuffle bytes")
      c.close()
    } finally { sc.removeSparkListener(listener); server.stop() }
  }
}
