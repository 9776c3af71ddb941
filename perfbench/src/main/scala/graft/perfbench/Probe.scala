package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spark-side work counters, fed by a listener the benchmark registers.
  * Counts are cumulative; callers diff two [[Counts]] taken around a
  * statement or a phase, after [[Probe.settle]] has delivered every
  * pending event. */
final class JobListener extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val executorRunMs = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  /** (start, end) wall-clock millis of every finished job. */
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  private val callbackNs = new AtomicLong

  /** Nanoseconds spent in this listener's callbacks so far. */
  def callbackNanos: Long = callbackNs.get

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val start = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    intervals.synchronized(intervals += ((start, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    stages.incrementAndGet()
    tasks.addAndGet(info.numTasks)
    Option(info.taskMetrics).foreach { m =>
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      executorRunMs.addAndGet(m.executorRunTime)
    }
  }

  def counts: Counts = Counts(jobs.get, stages.get, tasks.get,
    shuffleBytes.get, executorRunMs.get)

  /** Milliseconds of [from, to] covered by at least one finished job. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    val clipped = intervals.synchronized(intervals.toVector)
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}

final case class Counts(jobs: Long, stages: Long, tasks: Long,
    shuffleBytes: Long, executorRunMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleBytes - o.shuffleBytes, executorRunMs - o.executorRunMs)
}

/** One timed call at a layer boundary. Spans of one statement share
  * `trace`; `parent` is the span that caused this one (0 = root). */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

object Probe {
  private val ids = new AtomicLong

  private val t0 = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  /** Delivers every listener event posted so far. */
  def settle(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  /** What tracing costs a measured phase, the same on every workload:
    * the time spent in listener callbacks and span bookkeeping plus the
    * waits for listener delivery on the timed path, as a percentage of
    * the phase's wall time. Callbacks that run during a wait count in
    * both, so this is an upper bound. The arguments are the nanosecond
    * increases over the phase. */
  def traceOverheadPct(callbackNs: Long, bookkeepingNs: Long, settleNs: Long,
      wallNs: Long): Double =
    (callbackNs + bookkeepingNs + settleNs).toDouble / wallNs * 100

  /** Spans are kept in memory and written once, when the run ends. */
  final class Spans {
    private val buf = ArrayBuffer.empty[Span]
    private val bookNs = new AtomicLong
    def newTrace(): Long = ids.incrementAndGet()

    /** Nanoseconds spent recording spans so far. */
    def bookkeepingNanos: Long = bookNs.get

    /** Times `body` as span `name`; returns its result and the span id. */
    def span[T](trace: Long, parent: Long, name: String)(body: Long => T): (T, Long) = {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      val r = body(id)
      val t1 = System.nanoTime()
      buf.synchronized(buf += Span(trace, id, parent, name, t0, t1))
      bookNs.addAndGet(System.nanoTime() - t1)
      (r, t1 - t0)
    }

    def write(path: java.nio.file.Path): Unit = {
      val sb = new StringBuilder
      buf.synchronized(buf.toVector).foreach { s =>
        sb.append(s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},""")
          .append(s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
          .append('\n')
      }
      java.nio.file.Files.writeString(path, sb.toString)
    }
  }

  /** Sum of collector time across the JVM's garbage collectors. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Used heap after a full collection, in MiB. */
  def heapRetainedMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
