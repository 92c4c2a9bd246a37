package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced pass is attributed completely before the next one starts. The
  * bus is package-private to Spark; this accessor is the only reason the
  * harness has a file in this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
