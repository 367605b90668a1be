package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a root). Times are `System.nanoTime` values.
  */
final case class Span(id: Int, parent: Int, name: String, workload: String,
                      iter: Int, startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Keeps spans in memory; [[Tracer.toJson]] writes them out once the run
  * has ended. Bench code opens spans around its calls into the engine;
  * intervals seen by listeners (Spark jobs, streaming triggers) are added
  * with [[record]] and parented by time containment in [[resolve]].
  */
final class Tracer(workload: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var iter = 0

  /** Offset from wall-clock millis (listener event times) to nanoTime. */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochToNano

  def span[T](name: String)(body: => T): T = {
    val (id, parent) = synchronized {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      (id, parent)
    }
    val t0 = System.nanoTime()
    try body
    finally synchronized {
      open = open.tail
      spans += Span(id, parent, name, workload, iter, t0, System.nanoTime())
    }
  }

  /** Add an interval measured elsewhere; its parent is resolved later. */
  def record(name: String, startNs: Long, endNs: Long): Unit = synchronized {
    spans += Span(nextId, -2, name, workload, iter, startNs, endNs)
    nextId += 1
  }

  /** Parent every recorded interval to the shortest longer span of the
    * same iteration that contains it (1 ms slack: listener times are ms).
    */
  def resolve(): Seq[Span] = synchronized {
    val slack = 1000000L
    val all = spans.toSeq
    val byDur = all.sortBy(s => s.endNs - s.startNs)
    all.map { s =>
      if (s.parent != -2) s
      else {
        val d = s.endNs - s.startNs
        val host = byDur.find(h => h.id != s.id && h.iter == s.iter &&
          h.endNs - h.startNs > d &&
          h.startNs - slack <= s.startNs && s.endNs <= h.endNs + slack)
        s.copy(parent = host.map(_.id).getOrElse(-1))
      }
    }
  }

  def toJson(resolved: Seq[Span], t0: Long): String =
    resolved.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""workload":"${s.workload}","iter":${s.iter},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Length of the union of intervals, in seconds. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionS(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> math.max(0.0, s.durS - covered)
    }.toMap
  }
}

/** Spark engine counters, folded from task, stage and job events. The
  * benchmark reads them per operation: [[reset]] before, [[snapshot]]
  * after the listener bus has drained.
  */
final class SparkCounters(tracer: () => Option[Tracer]) extends SparkListener {
  private val c = mutable.LinkedHashMap(Seq(
    "jobs", "stages", "tasks", "task_busy_ms", "task_cpu_ns", "gc_ms",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "output_bytes").map(_ -> new AtomicLong()): _*)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  def reset(): Unit = c.values.foreach(_.set(0L))
  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    c("jobs").incrementAndGet()
    val start = jobStarts.remove(e.jobId)
    tracer().foreach(t =>
      t.record("spark.job", t.fromEpochMs(start), t.fromEpochMs(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_busy_ms").addAndGet(m.executorRunTime)
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("output_bytes").addAndGet(m.outputMetrics.bytesWritten)
    }
  }
}
