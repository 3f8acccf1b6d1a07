package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when the benchmark reads them. The
  * bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
