package graft.perfbench

import scala.collection.mutable

/** What one run measured: named metrics with their unit and sample
  * count, plus the attempted/failed tally of checked operations. Written
  * as one JSON object for `run.py`, which selects the metrics the run's
  * mode reports. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failedN = 0L

  def put(name: String, value: Double, unit: String, samples: Long): Unit =
    synchronized { metrics(name) = (value, unit, samples) }

  /** Records one checked operation; `problem` is None when it was right. */
  def check(problem: Option[String]): Unit = synchronized {
    attempted += 1
    problem.foreach { p =>
      failedN += 1
      if (failures.size < 20) failures += p
    }
  }

  def toJson: String = synchronized {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val ms = metrics.map { case (k, (v, u, n)) =>
      s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}, "samples": $n}"""
    }.mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failedN, "failures": """ +
      failures.map(str).mkString("[", ", ", "]") + s""", "metrics": $ms}"""
  }
}
