package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * layer's task totals are complete before the benchmark reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
