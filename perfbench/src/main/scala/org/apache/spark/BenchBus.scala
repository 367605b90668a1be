package org.apache.spark

/** Waits until every posted listener event has been delivered, so that
  * counters read after an operation include all of its tasks. The bus is
  * package-private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
