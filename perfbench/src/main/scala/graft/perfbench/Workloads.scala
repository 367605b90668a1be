package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.constraints.{ResumableValidator, Validator}
import graft.ingest.JsonSchemaInference
import graft.json.JsonParser
import graft.lineage.Checkpoint
import graft.sequences.SequenceSynth
import graft.stats.{Drift, KllSketchAgg}
import graft.streaming.StreamingValidator
import graft.types.{SchemaType, StrictMerge, TypeExtractor}

/** What one operation did: the input rows its result covers, its wall
  * time, whether its output matched ground truth, and the layer counts it
  * observed (read only in traced runs).
  */
final case class Sample(rows: Long, wallS: Double, ok: Boolean,
                        counts: Map[String, Double] = Map.empty, cpuS: Double = 0.0)

/** What the traced run's layer probes checked and counted. */
final case class ProbeResult(ok: Boolean, counts: Map[String, Double] = Map.empty)

/** A workload: inputs made from the seed, one repeatable operation through
  * the engine's public entry points, its output check, and the probes the
  * traced run times around calls into single layers.
  */
trait Workload {
  def name: String
  /** Write this workload's inputs under `dir` (repeated to time set-up). */
  def setup(spark: SparkSession, dir: String): Unit
  /** Ground truth for the output checks, computed once after set-up. */
  def prepare(spark: SparkSession): Unit
  def op(spark: SparkSession, tr: Option[Tracer]): Sample
  def probes(spark: SparkSession, tr: Tracer): ProbeResult
  /** Input sizes, stamped into the run's environment record. */
  def inputs: Map[String, Long]
}

object Workloads {
  val names: Seq[String] = Seq("batch_validate", "infer_jsonl")

  // Input sizes. One suite pass over the table takes about a second at
  // four cores, about half of it per-query fixed cost (passes over a tenth
  // of the rows took half as long). A run (session start, three set-ups,
  // warm-up, window) takes about a minute, so some fifty runs stay under
  // an hour; a 400k-row table added 25 s of set-up a run and spread as
  // much from run to run. The stream cycle's micro-batches are one small
  // file each.
  val TableRows = 150000L
  val StreamFiles = 4
  val StreamRowsPerFile = 8000L
  /** JSONL lines of each kind: sequence, event and order records. */
  val KindLines = 8000L
  val JsonFiles = 8
  val ProbeLines = 4000

  def apply(name: String, seed: Long): Workload = name match {
    case "batch_validate"     => new BatchValidate(seed)
    case "infer_jsonl"        => new InferJsonl(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }

  def span[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def suiteFor(cfg: SequenceSynth.Config): Validator.SuiteConfig =
    Validator.SuiteConfig(vocabSize = cfg.vocabSize,
      minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)

  def triples(verdicts: Array[Row]): Set[(String, String, Boolean)] =
    verdicts.map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet

  /** The drift step of the verdict loop (each source's n_tok KLL against
    * the merged rest, PSI and KS), through the public stats API.
    */
  def drift(stats: Array[Row], kllK: Int): Double = {
    val sk = stats.map(r => r.getAs[String]("source") -> r.getAs[Array[Byte]]("kll_ntok"))
    sk.map { case (s, bytes) =>
      val self = KllSketchAgg.fromBytes(bytes)
      val rest = KllSketchAgg.mergeBytes(sk.collect { case (o, b) if o != s => b }, kllK)
      Drift.psi(rest, self) + Drift.ks(rest, self)
    }.sum
  }

  /** Sources with too few rows for a stable `ntok_drift` decision. With
    * fewer than [[MinDriftRows]] rows a source puts a handful of samples in
    * each of the PSI's ten bins, and the bin edges come from the pooled
    * rest's KLL sketch, whose compaction is randomized: two runs of the
    * same suite over the same rows can decide such a check either way.
    * Output checks compare every other decision exactly.
    */
  def driftUnstable(report: Validator.ValidationReport): Set[String] =
    report.sourceStats.collect()
      .filter(_.getAs[Long]("n_rows") < MinDriftRows)
      .map(_.getAs[String]("source")).toSet
  val MinDriftRows = 1000L

  /** (source, check, pass) decisions, without drift decisions of `unstable` sources. */
  def decisions(verdicts: Array[Row], unstable: Set[String]): Set[(String, String, Boolean)] =
    triples(verdicts).filterNot(t => t._2 == "ntok_drift" && unstable(t._1))

  /** Number and total size of the data files under a local directory. */
  def dataFiles(label: String, dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(dir)).filter(_.getName.startsWith("part-"))
    Map(s"${label}_files" -> files.size.toLong, s"${label}_bytes" -> files.map(_.length).sum)
  }

  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

import Workloads._

/** The north-star path: one-scan validation of a source-partitioned table. */
final class BatchValidate(seed: Long) extends Workload {
  val name = "batch_validate"
  private val cfg = SequenceSynth.Config(rows = TableRows, seed = seed)
  private val suite = suiteFor(cfg)
  private val expected = SequenceSynth.expectedViolationCounts(cfg)
  private var table: String = _
  private var dim: DataFrame = _
  private var resume: ResumeCycle = _
  private var stream: StreamCycle = _

  def inputs: Map[String, Long] = Map("table_rows" -> TableRows) ++ dataFiles("table", table)

  // buckets = 32, not the default 8: more (source, bucket) keys spread each
  // source more evenly over the write's shuffle partitions, so file sizes,
  // and the scan's tasks, vary less from seed to seed (the table comes out
  // as about 30 files either way; the environment line records the count)
  def setup(spark: SparkSession, dir: String): Unit = {
    table = s"$dir/seqs"
    SequenceSynth.write(spark, cfg, table, buckets = 32)
  }

  def prepare(spark: SparkSession): Unit =
    dim = SequenceSynth.sourcesDim(spark, cfg)

  def op(spark: SparkSession, tr: Option[Tracer]): Sample = {
    val (verdicts, wall) = timed(span(tr, "constraints.validate_one_scan") {
      Validator.validateOneScan(spark, spark.read.parquet(table), dim, suite)
        .verdicts.collect()
    })
    Sample(TableRows, wall, check(verdicts))
  }

  /** Verdict counts equal the planted ground truth; chat's drift fails. */
  private def check(v: Array[Row]): Boolean = {
    val rows = v.map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3)))
    def lead(s: String): Long = s.takeWhile(_.isDigit).toLong
    def violating(check: String): Long =
      rows.filter(_._2 == check).map(r => lead(r._4)).sum
    val uniq = rows.filter(_._2 == "uniqueness").map(r => lead(r._4))
    val failedRef = rows.filter(r => r._2 == "referential" && !r._3)
    val refRows = failedRef.map(r => "\\((\\d+) rows\\)".r
      .findFirstMatchIn(r._4).map(_.group(1).toLong).getOrElse(-1L)).sum
    val seen = rows.filter(_._2 == "ntok_mismatch")
      .map(r => r._4.split(' ')(0).split('/')(1).toLong).sum
    Seq("ntok_mismatch", "null_token", "oov_token")
      .forall(c => violating(c) == expected(c)) &&
      uniq.toSeq == Seq(expected("uniqueness")) &&
      failedRef.map(_._1).toSeq == Seq("ghost") && refRows == expected("referential") &&
      rows.exists(r => r._1 == "chat" && r._2 == "ntok_drift" && !r._3) &&
      seen == TableRows
  }

  def probes(spark: SparkSession, tr: Tracer): ProbeResult = {
    val df = spark.read.parquet(table)
    tr.span("spark.decode") { df.agg(sum(size(col("tokens")))).collect() }
    tr.span("constraints.violations") { Validator.violations(df, suite).count() }
    val stats = tr.span("constraints.one_scan") {
      val (observed, statsThunk) = Validator.observeStats(df, suite)
      Validator.violations(observed, suite).count()
      statsThunk()
    }
    val dup = tr.span("constraints.dup_stats") { Validator.dupStats(df, suite) }
    val dimRows = dim.collect()
    tr.span("constraints.verdicts") {
      Validator.buildVerdicts(spark, stats, dimRows, dup, suite).collect()
    }
    tr.span("stats.drift") { drift(stats, suite.kllK) }
    if (resume == null) {
      resume = new ResumeCycle(table, s"$table-state", dim, suite)
      stream = new StreamCycle(s"$table-stream", seed)
    }
    val r = resume.run(spark, tr)
    val st = stream.run(spark, tr)
    ProbeResult(r.ok && st.ok, r.counts ++ st.counts)
  }
}

/** The checkpointed-resume path over the batch table, run by the traced
  * batch window: a first full [[ResumableValidator.run]] builds the state,
  * then each cycle rewrites one small source's files and reruns, then
  * reruns once more with nothing changed. Lineage, state writes and the
  * full-table uniqueness rerun dominate; the row walk touches ~4% of rows.
  */
final class ResumeCycle(table: String, state: String, dim: DataFrame,
                        suite: Validator.SuiteConfig) {
  private val Changed = "chat"
  private var cycle = 0
  private var reference: Set[(String, String, Boolean)] = _
  private var unstable: Set[String] = _

  /** Rewrite the changed source's files under new names (same rows), the
    * way a compaction or re-upload replaces a partition's files.
    */
  private def changeFiles(spark: SparkSession): Unit = {
    val dir = new Path(s"$table/source=$Changed")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet")).foreach { p =>
      val base = p.getName.stripSuffix(".parquet").replaceAll("-r\\d+$", "")
      require(fs.rename(p, new Path(dir, s"$base-r$cycle.parquet")), s"rename $p")
    }
  }

  /** One cycle. Passes when the changed run revalidates exactly the changed
    * source, the no-op run none, and both decide every check as a
    * from-scratch [[Validator.validateOneScan]] does.
    */
  def run(spark: SparkSession, tr: Tracer): ProbeResult = {
    if (reference == null) {
      val report = Validator.validateOneScan(spark, spark.read.parquet(table), dim, suite)
      unstable = driftUnstable(report)
      reference = decisions(report.verdicts.collect(), unstable)
      tr.span("constraints.resume_initial") {
        ResumableValidator.run(spark, table, dim, suite, state)
      }
    }
    cycle += 1
    tr.span("bench.change_files") { changeFiles(spark) }
    def rerun(label: String) = tr.span(label) {
      val s = ResumableValidator.run(spark, table, dim, suite, state)
      (s, s.report.verdicts.collect(), s.report.sourceStats.collect())
    }
    val (changed, v1, stats1) = rerun("constraints.resume_changed")
    val (noop, v2, _) = rerun("constraints.resume_noop")
    tr.span("lineage.plan") { Checkpoint.plan(spark, table, state) }
    val rescanned = stats1
      .filter(r => changed.validatedSources.contains(r.getAs[String]("source")))
      .map(_.getAs[Long]("n_rows")).sum
    ProbeResult(
      changed.validatedSources == Seq(Changed) && noop.validatedSources.isEmpty &&
        decisions(v1, unstable) == reference && decisions(v2, unstable) == reference,
      Map(
        "lineage.partitions_revalidated" -> changed.validatedSources.size.toDouble,
        "lineage.partitions_skipped" -> changed.skippedSources.size.toDouble,
        "lineage.rows_rescanned_share" -> rescanned.toDouble / changed.totalRows))
  }
}

/** The micro-batch path, run by the traced batch window: a flat directory
  * of equal part files, written on the first cycle, validated by
  * [[StreamingValidator.start]] with `AvailableNow` and one file per
  * micro-batch into fresh state each cycle. Per-batch fixed costs (state
  * read and merge, gen commit, verdict write, planning, WAL) dominate, not
  * row throughput.
  */
final class StreamCycle(root: String, seed: Long) {
  private val rows = StreamFiles * StreamRowsPerFile
  private val cfg = SequenceSynth.Config(rows = rows, seed = seed)
  private val suite = suiteFor(cfg)
  private val input = s"$root/stream-in"
  private var dim: DataFrame = _
  private var reference: Set[(String, String, Boolean)] = _
  private var unstable: Set[String] = _
  private var runs = 0

  /** One query over all files. Passes when it ran one micro-batch per
    * file, its cumulative `n_rows` equals the rows fed, and it decides
    * every check as the batch suite over the same files does (but for
    * `uniqueness`, which the stream only estimates).
    */
  def run(spark: SparkSession, tr: Tracer): ProbeResult = {
    if (reference == null) {
      dim = SequenceSynth.sourcesDim(spark, cfg)
      SequenceSynth.sequences(spark, cfg)
        .repartition(StreamFiles, col("doc_id"))
        .write.parquet(input)
      val report = Validator.validateOneScan(spark, spark.read.parquet(input), dim, suite)
      unstable = driftUnstable(report)
      reference = decisions(report.verdicts.collect(), unstable).filterNot(_._2 == "uniqueness")
    }
    runs += 1
    val state = s"$root/stream-state-$runs"
    val query = tr.span("streaming.query") {
      val q = StreamingValidator.start(spark, input, state, dim, suite,
        Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      q
    }
    val batches = query.recentProgress.filter(_.numInputRows > 0)
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    batches.foreach { p =>
      val start = tr.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      tr.record("streaming.trigger", start, start + (ms(p, "triggerExecution") * 1e6).toLong)
    }
    val stats = tr.span("streaming.read_stats") {
      StreamingValidator.readStats(spark, state).map(_._2).getOrElse(Array.empty[Row])
    }
    tr.span("streaming.merge_stats") {
      StreamingValidator.mergeStatsRows(stats, stats, suite.kllK)
    }
    val fed = stats.map(_.getAs[Long]("n_rows")).sum
    val verdicts = decisions(spark.read.parquet(StreamingValidator.verdictsPath(state)).collect(),
      unstable).filterNot(_._2 == "uniqueness_approx")
    deleteDir(spark, state)
    def med(k: String) = Stats.median(batches.map(ms(_, k)).toSeq)
    ProbeResult(batches.length == StreamFiles && fed == rows && verdicts == reference, Map(
      "streaming.trigger_ms" -> med("triggerExecution"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.batches" -> batches.length.toDouble))
  }
}

/** Schema inference over JSONL mixing long int arrays with flat scalar
  * records, interleaved so every partition merges unions. The mix (a third
  * each of sequence, event and order lines) is a chosen stand-in, not a
  * measured traffic mix.
  */
final class InferJsonl(seed: Long) extends Workload {
  val name = "infer_jsonl"
  private val DateFormats = Seq("yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss")
  private val lines = 3 * KindLines
  private var dir: String = _
  private var expectedRender: String = _
  private var sample: Array[String] = _

  def inputs: Map[String, Long] = Map("jsonl_lines" -> lines) ++ dataFiles("jsonl", dir)

  def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = s"$dir/jsonl"
    val h = (salt: Int) => xxhash64(col("id"), lit(seed), lit(salt))
    val seqs = SequenceSynth.sequences(spark, SequenceSynth.Config(rows = KindLines, seed = seed))
      .select(to_json(struct(col("*"))).as("value"))
    // Synthetic stand-ins for flat fact rows. Their fields are the ones the
    // repository names: events carry EventStream.Event's fields plus the
    // JSON `props` string whose `k` Queries reads; orders carry the three
    // columns Queries reads. Value domains are made up.
    val events = spark.range(KindLines).select(to_json(struct(
      col("id").as("event_id"),
      date_format(timestamp_seconds(lit(1704067200L) + pmod(h(1), lit(2678400L))),
        "yyyy-MM-dd HH:mm:ss").as("ts"),
      pmod(h(2), lit(5000L)).as("user_id"),
      element_at(array(Seq("view", "click", "signup", "purchase").map(lit): _*),
        (pmod(h(3), lit(4L)) + 1).cast("int")).as("event_type"),
      (pmod(h(4), lit(100000L)) / 100.0).as("value"),
      format_string("{\"k\": %d}", pmod(h(5), lit(100L))).as("props"))).as("value"))
    val orders = spark.range(KindLines).select(to_json(struct(
      col("id").as("o_orderkey"),
      pmod(h(6), lit(15000L)).as("o_custkey"),
      format_string("%d-P", pmod(h(7), lit(5L)) + 1).as("o_orderpriority"))).as("value"))
    seqs.union(events).union(orders)
      .withColumn("k", xxhash64(col("value"), lit(seed)))
      .repartition(JsonFiles, col("k"))
      .sortWithinPartitions(col("k"))
      .select(col("value"))
      .write.text(this.dir)
  }

  /** The expected schema: a single-threaded extract + mergeTwo fold. */
  def prepare(spark: SparkSession): Unit = {
    val all = readLines()
    require(all.length == lines, s"${all.length} JSONL lines, expected $lines")
    sample = all.take(ProbeLines)
    val extractor = new TypeExtractor(StrictMerge, DateFormats)
    expectedRender = SchemaType.render(all.iterator
      .map(l => extractor.extract(JsonParser.parseJsonLine(l).toOption.get))
      .reduce(StrictMerge.mergeTwo))
  }

  private def readLines(): Array[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toArray finally src.close()
      }

  def op(spark: SparkSession, tr: Option[Tracer]): Sample = {
    val (r, wall) = timed(span(tr, "ingest.infer_files") {
      JsonSchemaInference.inferFiles(spark, Seq(dir), StrictMerge, DateFormats)
    })
    Sample(lines, wall, r.seen == lines && r.failed == 0 && r.render == expectedRender)
  }

  def probes(spark: SparkSession, tr: Tracer): ProbeResult = {
    val parsed = tr.span("json.parse") { sample.map(l => JsonParser.parseJsonLine(l).toOption.get) }
    val extractor = new TypeExtractor(StrictMerge, DateFormats)
    val types = tr.span("types.extract") { parsed.map(extractor.extract) }
    tr.span("types.merge") { types.reduce(StrictMerge.mergeTwo) }
    ProbeResult(ok = true)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
