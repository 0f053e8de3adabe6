package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it to drain before reading what its listener recorded. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
