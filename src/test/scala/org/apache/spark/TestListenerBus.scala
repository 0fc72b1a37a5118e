package org.apache.spark

/** The listener bus is private to this package; tests that read listener
  * state (job counts, `statusTracker`) drain it first so the last events of
  * an action have been delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
