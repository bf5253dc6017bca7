package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's tallies are complete when the benchmark reads them. The
  * bus is private to Spark; this accessor lives in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
