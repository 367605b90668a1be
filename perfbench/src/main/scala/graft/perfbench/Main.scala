package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Workloads.{deleteDir, timed}

/** Runs one workload: set-up (repeated, to time it), untimed warm-up
  * operations, then a measuring window at local[nproc]. With `--trace 1`
  * a traced window (spans, Spark counters, layer probes) follows, then a
  * window in a fresh session at local[max(1, nproc/4)] for scaling.
  *
  * Usage: Main --workload NAME --seed N --seconds S --trace 0|1
  *             --work DIR --out DIR
  * The last stdout line is the result object; the line before it records
  * the environment the run saw.
  */
object Main {
  val SetupReps = 3
  val WarmS = 25.0
  /** Fewest operations a measuring window runs. */
  val MinOps = 3

  /** Per-layer metrics in output order, with units. A metric whose layer
    * the workload never calls reads 0.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "spark.decode_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_busy_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.input_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.output_bytes" -> "B", "spark.core_util" -> "ratio",
    "spark.rows_per_s_hi" -> "rows/s", "spark.rows_per_s_lo" -> "rows/s",
    "spark.scale_eff" -> "ratio",
    "spark.session_start_s" -> "s", "jvm.rss_peak_mb" -> "MB",
    "constraints.violations_s" -> "s", "constraints.one_scan_s" -> "s",
    "constraints.dup_stats_s" -> "s", "constraints.verdicts_s" -> "s",
    "constraints.resume_changed_s" -> "s", "constraints.resume_noop_s" -> "s",
    "constraints.resume_self_s" -> "s", "stats.drift_s" -> "s",
    "lineage.plan_s" -> "s", "lineage.partitions_revalidated" -> "count",
    "lineage.partitions_skipped" -> "count", "lineage.rows_rescanned_share" -> "ratio",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.read_stats_s" -> "s", "streaming.merge_stats_s" -> "s",
    "streaming.batches" -> "count",
    "json.parse_rec_per_s" -> "rec/s", "types.extract_rec_per_s" -> "rec/s",
    "types.merge_per_s" -> "merges/s",
    "self.bench_s" -> "s", "self.spark_s" -> "s", "self.constraints_s" -> "s",
    "self.ingest_s" -> "s",
    "trace.overhead_ratio" -> "ratio", "trace.job_coverage" -> "ratio",
    "trace.spans" -> "count")

  final class Window(val samples: Seq[Sample]) {
    def opS: Double = Stats.median(samples.map(_.wallS))
    /** Input rows per second of the median operation. */
    def rowsPerS: Double = samples.head.rows / opS
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workloads(opt("workload"), opt("seed").toLong)
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case o   => sys.error(s"--trace must be 0 or 1, not $o")
    }
    val work = opt("work")
    val out = opt("out")
    try run(w, opt("seed").toLong, seconds, traced, work, out)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
                  work: String, out: String): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors
    val (hi, lo) = (nproc, math.max(1, nproc / 4))
    val conf = Map(
      "spark.sql.shuffle.partitions" -> (2 * nproc).toString,
      "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.driver.host" -> "localhost",
      "spark.driver.bindAddress" -> "127.0.0.1",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val load0 = loadAvg1()
    val cpu0 = cpuTicks()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }

    var tracer: Option[Tracer] = None
    val counters = new SparkCounters(() => tracer)
    val (spark0, sessionS) = timed(session(hi, conf))
    var spark = spark0
    spark.sparkContext.addSparkListener(counters)
    phase("session")

    val setupS = (1 to SetupReps).map { i =>
      val (_, s) = timed(w.setup(spark, s"$work/setup-$i"))
      if (i > 1) deleteDir(spark, s"$work/setup-${i - 1}")
      s
    }
    phase("setup")
    w.prepare(spark)
    phase("prepare")
    // traced operations carry their Spark counters as "counter.<name>"
    def window(len: Double, minOps: Int, tr: Option[Tracer]): Window = {
      val buf = mutable.ArrayBuffer.empty[Sample]
      while (buf.size < minOps || buf.map(_.wallS).sum < len) {
        val c0 = processCpuS()
        val s0 = tr match {
          case None => w.op(spark, None)
          case Some(t) =>
            t.iter = buf.size
            org.apache.spark.BenchBus.drain(spark.sparkContext)
            counters.reset()
            val s = t.span("bench.op") { w.op(spark, tr) }
            org.apache.spark.BenchBus.drain(spark.sparkContext)
            val c = counters.snapshot.map { case (k, v) => s"counter.$k" -> v.toDouble }
            val p = w.probes(spark, t)
            org.apache.spark.BenchBus.drain(spark.sparkContext)
            s.copy(ok = s.ok && p.ok, counts = s.counts ++ p.counts ++ c)
        }
        val s = s0.copy(cpuS = processCpuS() - c0)
        buf += s
      }
      new Window(buf.toSeq)
    }

    // Untimed operations for WarmS: in minute-long runs operation times
    // kept falling for 20-30 s (JIT, heap sizing), and a stop rule on the
    // latest times ended warm-up early on noise.
    def warmUp(): mutable.ArrayBuffer[Sample] = {
      val buf = mutable.ArrayBuffer.empty[Sample]
      while (buf.map(_.wallS).sum < WarmS) buf += w.op(spark, None)
      buf
    }

    val warm = warmUp()
    phase("warm")
    val high = window(seconds, MinOps, None)
    phase("high")
    val windows = mutable.ArrayBuffer(high)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("rows_per_s", high.rowsPerS, "rows/s"))
      else {
        val t = new Tracer(w.name)
        tracer = Some(t)
        // MinOps operations: probes (with the resume and stream cycles on
        // batch_validate, ~7 s) follow every traced operation
        val tracedWin = window(0, MinOps, tracer)
        tracer = None
        windows += tracedWin
        val layer = mutable.Map(layerMetrics(t, hi, high, tracedWin).toSeq: _*)
        val spans = t.resolve()
        val file = new java.io.File(out, s"trace-${w.name}-seed$seed.json")
        file.getParentFile.mkdirs()
        java.nio.file.Files.writeString(file.toPath, t.toJson(spans, spans.map(_.startNs).min))
        phase("traced")

        // scaling: the same inputs in a fresh session at the low level
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = session(lo, conf)
        warm ++= Seq(w.op(spark, None))
        val low = window(seconds / 2, 1, None)
        windows += low
        phase("low")
        layer("spark.rows_per_s_hi") = high.rowsPerS
        layer("spark.rows_per_s_lo") = low.rowsPerS
        layer("spark.scale_eff") = (high.rowsPerS / low.rowsPerS) / (hi.toDouble / lo)
        layer("spark.session_start_s") = sessionS
        layer("jvm.rss_peak_mb") = rssPeakMb()
        LayerMetrics.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }
    spark.stop()

    val env = Seq(
      "workload" -> s""""${w.name}"""", "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "nproc" -> nproc.toString, "levels" -> s"[$hi,$lo]",
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> s""""${org.apache.spark.SPARK_VERSION}"""",
      "spark_conf" -> conf.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }
        .mkString("{", ",", "}"),
      "inputs" -> w.inputs.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}"),
      "setup_s" -> setupS.mkString("[", ",", "]"),
      "warm_ops" -> warm.size.toString,
      "ops" -> windows.map(_.samples.size).mkString("[", ",", "]"),
      "latencies_s" -> windows.map(_.samples.map(v => f"${v.wallS}%.3f").mkString("[", ",", "]"))
        .mkString("[", ",", "]"),
      "cpu_s" -> windows.map(_.samples.map(v => f"${v.cpuS}%.3f").mkString("[", ",", "]"))
        .mkString("[", ",", "]"),
      "phase_s" -> phases.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}"),
      "load1_start" -> load0.toString, "load1_end" -> loadAvg1().toString,
      "cpu_steal_share" -> {
        val cpu1 = cpuTicks()
        val d = cpu1.zip(cpu0).map { case (a, b) => a - b }
        f"${if (d.sum > 0) d(7).toDouble / d.sum else 0.0}%.4f"
      })
    println(env.map { case (k, v) => s""""$k":$v""" }.mkString("""{"env":{""", ",", "}}"))

    val ok = warm.forall(_.ok) && windows.forall(_.samples.forall(_.ok))
    val attempted = windows.map(_.samples.size).sum
    val failed = windows.map(_.samples.count(!_.ok)).sum
    println(metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString(s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{""",
        ",", "}}"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The per-layer metrics of one traced window; see [[LayerMetrics]]. */
  private def layerMetrics(t: Tracer, cores: Int, untraced: Window, tracedWin: Window)
      : Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def med(f: Sample => Double) = Stats.median(tracedWin.samples.map(f))
    def counter(k: String)(s: Sample) = s.counts(s"counter.$k")

    for (k <- Seq("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "output_bytes"))
      m(s"spark.$k") = med(counter(k))
    m("spark.task_busy_s") = med(counter("task_busy_ms")(_) / 1e3)
    m("spark.task_cpu_s") = med(counter("task_cpu_ns")(_) / 1e9)
    m("spark.gc_s") = med(counter("gc_ms")(_) / 1e3)
    m("spark.core_util") = med(s => counter("task_busy_ms")(s) / 1e3 / (s.wallS * cores))
    tracedWin.samples.flatMap(_.counts.keys).distinct.filterNot(_.startsWith("counter."))
      .foreach(k => m(k) = med(_.counts.getOrElse(k, 0.0)))

    val spans = t.resolve()
    // per-iteration total duration of each named span, median over iterations
    spans.filterNot(s => Set("bench.op", "spark.job", "streaming.trigger")(s.name))
      .groupBy(_.name).foreach { case (name, ss) =>
        m(s"${name}_s") = Stats.median(ss.groupBy(_.iter).values.map(_.map(_.durS).sum).toSeq)
      }
    def dur(n: String) = m.getOrElse(s"${n}_s", 0.0)
    val probeN = Workloads.ProbeLines.toDouble
    if (m.contains("json.parse_s")) {
      m("json.parse_rec_per_s") = probeN / dur("json.parse")
      m("types.extract_rec_per_s") = probeN / dur("types.extract")
      m("types.merge_per_s") = (probeN - 1) / dur("types.merge")
    }
    if (m.contains("constraints.resume_changed_s"))
      m("constraints.resume_self_s") = dur("constraints.resume_changed") -
        dur("lineage.plan") - dur("constraints.dup_stats") - dur("constraints.verdicts")

    // self time per layer inside each operation's span tree
    val self = Tracer.selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val roots = spans.filter(_.name == "bench.op")
    val perRoot = roots.map { r =>
      subtree(r).groupBy(_.layer).map { case (l, ss) => l -> ss.map(x => self(x.id)).sum }
    }
    for (l <- Seq("bench", "spark", "constraints", "ingest"))
      m(s"self.${l}_s") = Stats.median(perRoot.map(_.getOrElse(l, 0.0)))
    // each operation's one engine call: the share of its wall inside Spark
    // jobs; the rest is driver-side work (planning, verdict loop, results)
    val calls = spans.filter(s => roots.exists(_.id == s.parent))
    m("trace.job_coverage") = Stats.median(calls.map(c => 1.0 - self(c.id) / c.durS))
    m("trace.overhead_ratio") = tracedWin.opS / untraced.opS
    m("trace.spans") = spans.size.toDouble
    m.toMap
  }

  private def session(cores: Int, conf: Map[String, String]): SparkSession = {
    val s = conf.foldLeft(SparkSession.builder().master(s"local[$cores]")
        .appName(s"perfbench-local$cores")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def loadAvg1(): Double =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(' ')(0).toDouble).getOrElse(-1.0)

  /** Machine-wide CPU ticks (user .. steal) from /proc/stat; steal is
    * time the hypervisor gave this machine's CPUs to someone else.
    */
  private def cpuTicks(): Array[Long] =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+").slice(1, 9).map(_.toLong)).getOrElse(Array.fill(8)(0L))

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
