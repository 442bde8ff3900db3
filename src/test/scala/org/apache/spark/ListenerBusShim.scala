package org.apache.spark

/** Drains the listener bus, so a test listener has seen every event of
  * the actions that returned before the call. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
