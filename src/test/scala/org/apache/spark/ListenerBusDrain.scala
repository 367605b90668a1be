package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Waits until every posted listener event has been delivered, so a
  * listener's counts are complete when read. The bus is package-private
  * to Spark, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def countJobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    apply(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      apply(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
