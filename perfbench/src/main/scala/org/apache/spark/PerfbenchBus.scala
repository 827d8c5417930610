package org.apache.spark

/** The listener bus is private to Spark; this accessor lives in Spark's
  * package so the benchmark can wait until every queued event has been
  * delivered before it reads its span totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
