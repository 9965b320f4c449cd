package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until
  * every posted event has reached its listener before it reads counts. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
