package org.apache.spark

/** Listener-bus bridge: `SparkContext.listenerBus` is `private[spark]`,
  * so waiting until every posted event has reached its listeners needs
  * this one-file in-package shim (the `GraftColumnBridge` pattern). */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
