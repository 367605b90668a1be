package org.apache.spark.graftbridge

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** The Spark jobs started while a body runs. The log waits until every
  * posted listener event has been delivered, before the body and after
  * it, so it is complete when read. The listener bus is package-private
  * to Spark, hence this file's package.
  */
object JobLog {

  /** One job: its job group and description (`""` if unset), and its
    * start and end as the listener events' epoch milliseconds.
    */
  final case class Job(id: Int, group: String, description: String, start: Long, end: Long)

  /** `body`'s result and the jobs it started, in job id order. */
  def record[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val jobs = new ConcurrentHashMap[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(key: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, prop(SparkContext.SPARK_JOB_GROUP_ID),
          prop(SparkContext.SPARK_JOB_DESCRIPTION), e.time, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.values.asScala.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(listener)
  }
}
