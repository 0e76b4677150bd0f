package org.apache.spark

/** The listener bus is private to Spark; specs that count listener events
  * drain it first, so every job a request ran has reached their listener.
  */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
