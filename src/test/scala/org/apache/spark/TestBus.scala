package org.apache.spark

/** Test access to the listener bus: events are delivered asynchronously,
  * so a listener's counts are only final once the bus is drained. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
