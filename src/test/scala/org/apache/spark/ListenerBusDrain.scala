package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a spec that counts jobs with a SparkListener reads a complete count.
  * `listenerBus` is Spark-internal, hence the package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
