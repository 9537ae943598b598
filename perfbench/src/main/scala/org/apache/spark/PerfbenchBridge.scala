package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchBridge {
  /** Block until every posted event has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
