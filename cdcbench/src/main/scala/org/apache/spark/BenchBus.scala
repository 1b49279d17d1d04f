package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so the
  * traced run reads complete counters. The bus is package-private to
  * Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
