package org.apache.spark

/** Access to the listener bus's drain, which is private to Spark: the
  * traced run waits for every queued listener event before it reads
  * the listener-derived spans and counters.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
