package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read after an operation include all of its tasks. The bus is
  * package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
