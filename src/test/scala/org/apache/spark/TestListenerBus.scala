package org.apache.spark

/** The listener bus is private to Spark; specs that count events wait
  * on it so every event of the measured call has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
