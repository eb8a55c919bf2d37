package org.apache.spark

/** Spark-internal listener state, hence the package. */
object GraftBus {
  /** Waits until every queued listener event has been delivered, so
    * counts a listener keeps are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a shuffle-map stage). */
  def writesShuffle(stage: scheduler.StageInfo): Boolean = stage.shuffleDepId.isDefined
}
