package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.Random

/** `catalog_batch`: rounds over two groups of catalog entries, in process,
  * in a seed-shuffled order. Each entry's result is materialized in full
  * (`localCheckpoint`, as the correctness dump materializes it); the last
  * round's results are written out for the DuckDB oracle check. */
object CatalogBench {

  val GraphGroup: Seq[String] = Seq("x02_pagerank", "x20_strongly_connected")
  val DataGroup: Seq[String] = Seq("d08_neardup_cluster_dedup", "s13_streaming_live_index")
  val Entries: Seq[String] = GraphGroup ++ DataGroup

  def run(spark: SparkSession, dataDir: String, workDir: String, seed: Long,
      seconds: Int, trace: Boolean, report: Report, spans: Probe.Spans): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors
    val queries = SparkEntry.queries
    val t0 = System.nanoTime()
    graft.ops.AnalyticsCatalog.warmGraph(spark, dataDir)
    report.put("setup_s", (System.nanoTime() - t0) / 1e9, "s", 1)
    Probe.log("warm graph built")

    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val perEntry = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Counts)]]
    Entries.foreach(perEntry(_) = mutable.ArrayBuffer.empty)
    val last = mutable.LinkedHashMap.empty[String, DataFrame]
    val roundS = mutable.ArrayBuffer.empty[Double]
    val gc0 = Probe.gcMs
    val rnd = new Random(seed)
    val (cb0, bk0) = (listener.callbackNanos, spans.bookkeepingNanos)
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    var busyMs = 0L
    var settleNs = 0L
    def settle(): Unit = if (trace) {
      val s0 = System.nanoTime()
      Probe.settle(spark)
      settleNs += System.nanoTime() - s0
    }
    try {
      while (roundS.isEmpty || System.nanoTime() < deadline) {
        val r0 = System.nanoTime()
        rnd.shuffle(Entries).foreach { e =>
          settle()
          val c0 = listener.counts
          last.remove(e).foreach(_.unpersist(false))
          val (df, ns) = spans.span(spans.newTrace(), 0, s"SparkEntry.queries.$e") { _ =>
            val cp = queries(e)(spark, dataDir).localCheckpoint(true)
            cp.count()
            cp
          }
          last(e) = df
          settle()
          val c = listener.counts - c0
          busyMs += c.executorRunMs
          perEntry(e) += ((ns / 1e9, c))
        }
        roundS += (System.nanoTime() - r0) / 1e9
        Probe.log(f"round ${roundS.size} done in ${roundS.last}%.2f s")
      }
      val wallNs = System.nanoTime() - start
      val wall = wallNs / 1e9
      val all = perEntry.values.flatten.map(_._1).toSeq
      report.put("throughput_ops_s", all.size / wall, "1/s", all.size)
      // the batch's unit of latency is the round: per-entry times depend
      // on where the seed's order puts the JVM's cold start
      report.put("latency_ms", Probe.median(roundS.toSeq) * 1000, "ms", roundS.size)
      report.put("jvm.gc_ms", (Probe.gcMs - gc0).toDouble, "ms", 1)
      if (trace) {
        report.put("spark.executor_busy", busyMs / (wall * 1000 * cpus), "ratio", 1)
        report.put("trace.overhead_pct", Probe.traceOverheadPct(listener.callbackNanos - cb0,
          spans.bookkeepingNanos - bk0, settleNs, wallNs), "%", all.size)
      }
      def groupS(g: Seq[String]): Seq[Double] =
        roundS.indices.map(i => g.map(e => perEntry(e)(i)._1).sum)
      report.put("batch.round_s", Probe.median(roundS.toSeq), "s", roundS.size)
      report.put("batch.graph_ops_s", Probe.median(groupS(GraphGroup)), "s", roundS.size)
      report.put("batch.datapipe_ops_s", Probe.median(groupS(DataGroup)), "s", roundS.size)
      perEntry.foreach { case (e, xs) =>
        val s = Probe.median(xs.map(_._1).toSeq)
        val jobs = Probe.median(xs.map(_._2.jobs.toDouble).toSeq)
        val n = xs.size.toLong
        report.put(s"batch.$e.s", s, "s", n)
        report.put(s"batch.$e.jobs", jobs, "count", n)
        report.put(s"batch.$e.stages", Probe.median(xs.map(_._2.stages.toDouble).toSeq), "count", n)
        report.put(s"batch.$e.shuffle_bytes",
          Probe.median(xs.map(_._2.shuffleBytes.toDouble).toSeq), "bytes", n)
        report.put(s"batch.$e.ms_per_job", if (jobs == 0) 0.0 else s * 1000 / jobs, "ms", n)
      }
      report.put("jvm.heap_retained_mb", Probe.heapRetainedMb, "MiB", 1)

      // the last round's results, for the oracle check run.py makes
      val out = s"$workDir/oracle_out"
      last.foreach { case (e, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$e")
      }
      val oracle = SparkEntry.oracleSql
      val missing = Entries.filterNot(oracle.contains)
      missing.foreach(e => report.check(Some(s"$e: no oracle SQL")))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
        Entries.filter(oracle.contains).map(e => s"${jsonStr(e)}: ${jsonStr(oracle(e))}")
          .mkString("{", ",\n", "}"))
      Probe.log("results written for the oracle check")
    } finally {
      if (trace) spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
