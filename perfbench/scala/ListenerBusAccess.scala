package org.apache.spark

/** Waits for the listener bus to deliver every posted event; the
  * bus's drain call is package-private to Spark.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
