package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so the benchmark reads complete counters at a pass boundary.
  * The bus is private to Spark; this one-line bridge is the only
  * reason the benchmark has a file in Spark's package.
  */
object CatalogBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
