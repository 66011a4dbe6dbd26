package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so job and task
  * counts are complete when a traced run reads them. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
