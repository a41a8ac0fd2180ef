package org.apache.spark

/** Test access to the listener bus: listeners run on the bus thread, so a
  * test reads what they counted only after the queued events are delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
