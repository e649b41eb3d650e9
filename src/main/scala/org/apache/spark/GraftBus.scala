package org.apache.spark

import java.util.Properties

/** Bridge to `private[spark]` SparkContext members, in one in-package
  * shim file (the `GraftColumnBridge` pattern):
  *  - `listenerBus`: waiting until every posted event has reached its
  *    listeners;
  *  - the whole local-property set of a thread (job group, scheduler
  *    pool, caller tags), which the public API exposes only key by key. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The calling thread's local properties (the live object). */
  def localProperties(sc: SparkContext): Properties = sc.getLocalProperties

  /** Replaces the calling thread's local properties with `props`. */
  def setLocalProperties(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(props)
}
