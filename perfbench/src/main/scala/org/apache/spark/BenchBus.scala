package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so per-label aggregates read after an op are complete. The bus is
  * package-private to Spark, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
