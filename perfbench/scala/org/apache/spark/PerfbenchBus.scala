package org.apache.spark

/** Waits until every event posted so far reached the listeners, so the
  * counters read after a run include its last tasks. The listener bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
