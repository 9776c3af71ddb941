package graft

import java.io.{BufferedReader, InputStreamReader, PrintStream}

import org.apache.spark.sql.SparkSession

import graft.cypher.{CypherMutation, CypherResult, CypherRows, CypherSession, CypherWrite}
import graft.graph.{GraphStore, PropertyGraph}

/** Interactive Cypher console — the repo's answer to the Neo4j browser the
  * reference exposes on port 7474 (/root/reference/start.sh:6,
  * /root/reference/cypher.txt:1-8): a user types Cypher statements, sees
  * result tables and write counters, and the graph persists to a
  * [[graft.graph.GraphStore]] path on `:save` / exit.
  *
  * Usage: `sbt "runMain graft.Shell [storePath]"`. Statements terminate
  * with a top-level `;` (quote-aware — a `;` inside a string literal does
  * not split) and may span lines. `:help`, `:save`, `:quit` are console
  * commands, not Cypher.
  */
object Shell {

  def main(args: Array[String]): Unit = {
    val storePath = args.headOption.getOrElse("/tmp/graft_shell_store")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-shell")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // probe, don't catch (round 16): a caught failed-analysis Dataset
    // poisons Spark's ObservationManager listener — see GraphStore.exists.
    // hasContent, not exists (ADVICE r16): a flushed EMPTY graph leaves a
    // marker-only nodes dir that exists but cannot be parquet-read.
    val initial =
      if (GraphStore.hasContent(spark, s"$storePath/nodes"))
        GraphStore.read(spark, storePath)
      else PropertyGraph.empty(spark)
    val sess = new CypherSession(initial)
    val out = System.out
    out.println(s"graft Cypher shell — store: $storePath (`:help` for commands)")
    repl(sess, new BufferedReader(new InputStreamReader(System.in)), out,
      persistTo = Some(storePath), prompt = true)
    spark.stop()
  }

  /** The console loop, separated from `main` so a spec can drive it with a
    * scripted reader and capture the printed output. Returns the number of
    * statements executed. */
  def repl(sess: CypherSession, in: BufferedReader, out: PrintStream,
      persistTo: Option[String] = None, prompt: Boolean = false,
      maxRows: Int = 50): Int = {
    var executed = 0
    val buf = new StringBuilder
    var done = false
    while (!done) {
      if (prompt) out.print(if (buf.isEmpty) "graft> " else "  ...> ")
      val line = in.readLine()
      if (line == null) done = true
      else {
        val t = line.trim
        t match {
          case ":quit" | ":exit" => done = true
          case ":help" =>
            out.println("""Commands:
              |  :help          this text
              |  :save          persist the graph to the store path
              |  :quit / :exit  save and leave
              |Statements end with `;` and may span lines — the same Cypher
              |surface the engine's query catalog covers (MATCH/MERGE/CREATE/
              |SET/DELETE/UNWIND/WITH/CALL {}/EXISTS {}/shortestPath/...).""".stripMargin)
          case ":save" =>
            persistTo.foreach { p => GraphStore.write(sess.graph, p); out.println(s"saved -> $p") }
          case _ =>
            buf.append(line).append('\n')
            // execute once the buffer closes a statement at top level
            if (t.endsWith(";")) {
              val script = buf.toString
              buf.clear()
              executed += runAndPrint(sess, script, out, maxRows)
            }
        }
      }
    }
    // a trailing unterminated statement still runs (piped scripts)
    if (buf.nonEmpty && buf.toString.trim.nonEmpty)
      executed += runAndPrint(sess, buf.toString, out, maxRows)
    persistTo.foreach { p =>
      if (executed > 0) { GraphStore.write(sess.graph, p); out.println(s"saved -> $p") }
    }
    executed
  }

  private def runAndPrint(sess: CypherSession, script: String,
      out: PrintStream, maxRows: Int): Int = {
    var n = 0
    try {
      sess.runScript(script).foreach { r => printResult(r, out, maxRows); n += 1 }
    } catch {
      case e: Exception =>
        out.println(s"error: ${e.getMessage}")
    }
    n
  }

  private def printResult(r: CypherResult, out: PrintStream, maxRows: Int): Unit =
    r match {
      case rows @ CypherRows(df) =>
        // the row cap keeps an interactive typo from streaming the whole
        // store to a console
        val (shown, truncated) = rows.take(maxRows)
        out.println(tableString(df.columns, shown.map(_.toSeq.map(v =>
          if (v == null) "null" else v.toString))))
        if (truncated) out.println(s"(truncated at $maxRows rows)")
        else out.println(s"${shown.length} row(s)")
      case CypherMutation(_, created, matched) =>
        out.println(s"nodes created: $created, nodes matched: $matched")
      case CypherWrite(_, set, removed, nodesDeleted, relsDeleted, relsCreated) =>
        out.println(s"properties set: $set, removed: $removed, " +
          s"nodes deleted: $nodesDeleted, relationships deleted: $relsDeleted, " +
          s"relationships created: $relsCreated")
    }

  private def tableString(cols: Array[String], rows: Array[Seq[String]]): String = {
    val widths = cols.indices.map { i =>
      (cols(i).length +: rows.map(r => r(i).length)).max.min(40)
    }
    def clip(s: String, w: Int) = if (s.length <= w) s.padTo(w, ' ') else s.take(w - 1) + "…"
    def line(vals: Seq[String]) =
      vals.zip(widths).map { case (v, w) => clip(v, w) }.mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    (Seq(sep, line(cols.toSeq), sep) ++ rows.map(line) :+ sep).mkString("\n")
  }
}
