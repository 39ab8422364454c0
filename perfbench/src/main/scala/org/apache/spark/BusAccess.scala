package org.apache.spark

/** Lets the benchmark's traced run wait until the listener bus has
  * delivered every event posted so far (the bus is `private[spark]`), so
  * per-pass job and task counts are complete when they are read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
