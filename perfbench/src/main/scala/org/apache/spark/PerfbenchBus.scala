package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's tallies are complete when the harness reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
