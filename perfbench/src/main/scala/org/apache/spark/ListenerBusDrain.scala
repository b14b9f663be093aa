package org.apache.spark

/** The listener bus is private to Spark; this reaches its drain so the
  * benchmark reads its listeners only after every queued event has been
  * delivered.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
