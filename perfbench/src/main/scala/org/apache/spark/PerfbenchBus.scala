package org.apache.spark

/** The listener bus is private to Spark; this object lives in Spark's
  * package only to wait for it to drain before a run's task metrics are
  * read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
