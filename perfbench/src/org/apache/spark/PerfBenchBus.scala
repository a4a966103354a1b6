package org.apache.spark

/** The listener bus is private to Spark; the traced run must read listener
  * counters only after every event of an operation has been delivered. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
