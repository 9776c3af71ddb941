package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <fixture dir> --work <scratch dir> --out <json>`.
  * Writes what it measured to `--out`; `run.py` checks and prints it. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val workDir = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Probe.log(s"spark up at local[$cpus]")
    val report = new Report
    val spans = new Probe.Spans
    try {
      workload match {
        case "serve_read" =>
          ServeBench.run(spark, dataDir, workDir, seed, seconds, trace, report, spans)
        case "catalog_batch" =>
          CatalogBench.run(spark, dataDir, workDir, seed, seconds, trace, report, spans)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      if (trace) spans.write(java.nio.file.Paths.get(s"$workDir/spans.jsonl"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), report.toJson)
    } finally {
      spark.stop()
      Probe.log("spark stopped")
    }
  }
}
