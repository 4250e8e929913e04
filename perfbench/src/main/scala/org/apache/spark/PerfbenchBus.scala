package org.apache.spark

/** Listener callbacks arrive asynchronously on the listener bus; the
  * harness reads what its listeners saw only after the bus is empty.
  * The drain is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
