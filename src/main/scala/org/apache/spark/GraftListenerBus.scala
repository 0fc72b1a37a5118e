package org.apache.spark

/** The listener bus is private to this package. Code that reads listener
  * state (job counts, task metrics, `statusTracker`) drains it first, so the
  * last events of an action have been delivered — no sleep, no polling.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
