package org.apache.spark

/** Test access to the listener bus's drain, which is private to Spark:
  * a spec that counts listener events waits for every queued event
  * before it reads its counters.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
