package org.apache.spark.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two scheduler internals `graft.CostTrace` reads; both are private
  * to the spark package, hence this file's package. */
object SchedulerShim {
  /** Block until every listener event posted so far was delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The stage is a shuffle-map stage: its tasks write shuffle output. */
  def writesShuffle(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
