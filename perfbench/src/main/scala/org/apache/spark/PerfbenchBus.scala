package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private.
  * The traced run drains it after every query call, so a call's events
  * are all delivered before the call's span is closed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
