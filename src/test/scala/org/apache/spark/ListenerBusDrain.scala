package org.apache.spark

/** The listener bus is private to Spark; a spec that counts what its
  * listener saw first waits until every posted event has reached it. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
