package org.apache.spark

/** Access to the listener bus, which is `private[spark]`: the traced run
  * drains it after each operation so that the engine ledger holds every
  * event the operation caused before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
