package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event. The
  * bus is package-private, so this one call lives in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
