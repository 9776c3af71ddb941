package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every Spark listener event posted so far has been
  * delivered. Listener delivery is asynchronous; the benchmark calls this
  * at statement and phase boundaries so a counter read there includes
  * every job the statement ran. `listenerBus` is Spark-internal, hence
  * the package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
