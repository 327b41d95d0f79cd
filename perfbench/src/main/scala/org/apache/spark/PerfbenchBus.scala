package org.apache.spark

/** The listener bus is `private[spark]`; exact per-phase counts need every
  * posted event delivered before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
