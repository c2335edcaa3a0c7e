package org.apache.spark

/** Waits until every queued listener event has been delivered, so
  * counters read after a run are complete. The listener bus is
  * private to Spark; this accessor lives in Spark's package for that.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
