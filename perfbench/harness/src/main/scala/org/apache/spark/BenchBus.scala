package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run's listeners have seen all jobs before their records are read.
  * The bus is package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
