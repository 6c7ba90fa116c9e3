package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test listener's tallies are complete when the test reads them
  * (`listenerBus` is private to the spark package). */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
