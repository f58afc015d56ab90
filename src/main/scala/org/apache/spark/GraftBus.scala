package org.apache.spark

/** Hook into Spark's internals: block until every queued listener
  * event has been delivered, so a listener's counts are complete. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
