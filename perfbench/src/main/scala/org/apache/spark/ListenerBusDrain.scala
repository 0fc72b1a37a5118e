package org.apache.spark

/** Waits until every posted listener event has been delivered. Listener
  * counters read right after an action can otherwise miss its last task or
  * job events; the bus is only reachable from inside this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
