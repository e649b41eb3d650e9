package org.apache.spark

/** Deterministic drain of the listener bus: returns once every event
  * posted so far has reached every listener. `waitUntilEmpty` is
  * package-private to Spark, hence this one-method bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
