package org.apache.spark

/** The listener bus is private to Spark; specs reach its drain here so
  * they read their listeners only after every queued event is delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
