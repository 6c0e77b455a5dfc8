package org.apache.spark

/** The listener bus is private to Spark's package; the benchmark waits on
  * it so that its listener has seen every event posted before a reading.
  */
object BenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
