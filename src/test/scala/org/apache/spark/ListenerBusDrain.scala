package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's counts are complete when read. The bus is package-private
  * to Spark, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
