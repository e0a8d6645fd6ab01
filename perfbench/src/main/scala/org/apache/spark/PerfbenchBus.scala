package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * The listener bus is asynchronous; per-op numbers are read only after
  * it drains. Lives in this package because the bus is Spark-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
