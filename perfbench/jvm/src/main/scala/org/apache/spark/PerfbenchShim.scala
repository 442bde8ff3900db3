package org.apache.spark

/** The benchmark's one reach into Spark internals: draining the listener
  * bus, so task and query metrics of an action are complete before the
  * benchmark reads them. */
object PerfbenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
