package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * that per-span task metrics are complete when a span is read. The
  * listener bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
