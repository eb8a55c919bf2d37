package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced op's job, task and query-execution records are complete
  * before they are read. The bus is Spark-internal, hence the package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
