package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so
  * that its counters hold every event of a phase before it reads them. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
