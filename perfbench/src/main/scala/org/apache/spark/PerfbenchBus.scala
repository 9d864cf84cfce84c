package org.apache.spark

/** Listener events arrive asynchronously; the benchmark reads its listener
  * totals only after every event posted so far has been delivered. The bus
  * is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
