package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * queued listener event has been delivered, so the traced counters
  * are complete when a measured region is read out. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
