package org.apache.spark.graftx

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Test-only bridge to `StageInfo.shuffleDepId` (private[spark]): the
  * scheduler's own record of which shuffle dependency a map stage wrote
  * — the ground truth RuntimeShuffleSpec counts. Same package-bridge
  * pattern as the `org.apache.spark.sql.graftx` bridges in src/main. */
object StageInfoAccess {
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId

  /** Block until every event posted so far reached the listeners
    * (`SparkContext.listenerBus` is private[spark]). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
