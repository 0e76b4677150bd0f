package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it so that
  * every event a query caused has reached the benchmark's listeners before
  * the counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
