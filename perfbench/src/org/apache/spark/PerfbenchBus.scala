package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * summed by a listener are complete before they are read. The listener
  * bus is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
