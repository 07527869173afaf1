package org.apache.spark

/** Waits until every queued listener event is delivered, so a timed
  * section's Spark counters are complete before they are read. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
