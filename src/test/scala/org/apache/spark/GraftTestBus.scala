package org.apache.spark

/** Test hook into Spark's internals: block until every queued listener
  * event has been delivered, so a listener's counts are complete. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
