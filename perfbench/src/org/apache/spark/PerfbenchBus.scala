package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait until
  * every event of a finished call has reached its listener before it reads
  * that call's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
