package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced run reads complete job records. The listener bus is
  * package-private to Spark, hence this bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
