package graft.tools

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.graftbridge.JobLog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.Queries
import graft.app.Main
import graft.constraints.Validator
import graft.lineage.Commit
import graft.ops._
import graft.sequences.{SequenceSynth, TokenStats}
import graft.streaming.{MicroBatch, StreamingPipeline}

/** The profiler: times a named target's steps in one session, so
  * optimization effort goes where the seconds are. A diagnostic, not part
  * of the driver contract.
  *
  * Each step runs `runs` times under its name as the Spark job group and
  * prints one row: best and all wall times, units per second and the last
  * run's `out=` checksum. Below the row it prints the last run's Spark
  * jobs and the wall time spent outside them (driver-side planning and
  * loops). The session cache is cleared after every step. Inputs too big
  * to synthesize per run are cached under `target/` and reused once
  * committed ([[Commit]]).
  *
  * Usage: runMain graft.tools.Profile <target> [args]
  * {{{
  *   query q1[,q2...] [runs=2] [plansDir] [suffix]  battery queries over SPARK_GRAFT_SF_DIR;
  *                                                  plansDir gets one formatted plan per query
  *   suite [rows=8000000] [runs=3]                  decode floors and validation suite stages
  *   ops [copies=40] [runs=2]                       pipeline operators over the salted corpus
  *   stream [input] [batches=5] [maxDeltas=16]      streaming pipeline cost per micro-batch
  *   codegen [runs=3]                               native projections, codegen fallback off
  * }}}
  */
object Profile {

  private val Usage =
    "usage: Profile query q1[,q2...] [runs] [plansDir] [suffix] | suite [rows] [runs] | " +
      "ops [copies] [runs] | stream [input] [batches] [maxDeltas] | codegen [runs]"

  private val Sf01 = "/root/testdata/sf0.1"

  /** One printed row: every run's wall seconds, and the last run's
    * checksum and jobs.
    */
  final case class Step(name: String, secs: Seq[Double], out: Any, jobs: Seq[JobLog.Job])

  def main(args: Array[String]): Unit = {
    val spark = Main.session("graft-profile", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args) finally spark.stop()
  }

  /** Runs the target `args` names and returns its steps. Every conf it
    * sets is restored on return.
    */
  def run(spark: SparkSession, args: Array[String],
          sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Sf01)): Seq[Step] = {
    require(args.nonEmpty, Usage)
    def arg(i: Int, default: String): String = args.lift(i).getOrElse(default)
    // the split size every recorded BENCH/*.md number was taken at
    withConf(spark, "spark.sql.files.maxPartitionBytes" -> "16m") {
      args(0) match {
        case "query" =>
          require(args.length > 1, Usage)
          query(spark, sfDir, args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
            arg(2, "2").toInt, args.lift(3), arg(4, ""))
        case "suite" => suite(spark, arg(1, "8000000").toLong, arg(2, "3").toInt)
        case "ops" => ops(spark, arg(1, "40").toInt, arg(2, "2").toInt)
        case "stream" =>
          stream(spark, args.lift(1).getOrElse(codegenDocs(spark)),
            arg(2, "5").toInt, arg(3, "16").toInt)
        case "codegen" => codegen(spark, arg(1, "3").toInt)
        case other => throw new IllegalArgumentException(s"unknown target '$other'; $Usage")
      }
    }
  }

  /** The timing loop. `unit` names what `units` counts in a step's rate. */
  private final class Steps(spark: SparkSession, runs: Int, unit: String) {
    val done = ArrayBuffer.empty[Step]

    def apply(name: String, units: Long = 0L)(body: => Any): Unit = {
      val sc = spark.sparkContext
      val timed =
        try {
          sc.setJobGroup(name, name)
          (1 to runs).map { _ =>
            JobLog.record(sc) {
              val t0 = System.nanoTime()
              val out = body
              ((System.nanoTime() - t0) / 1e9, out)
            }
          }
        } finally {
          sc.clearJobGroup()
          spark.catalog.clearCache()
        }
      val secs = timed.map(_._1._1)
      val ((wall, out), jobs) = timed.last
      val best = secs.min
      val rate = if (units > 0) f"  $unit/s=${units / best}%11.0f" else ""
      val check = if (out == ()) "" else s"  out=$out"
      println(f"$name%-28s best=$best%7.2fs  all=${secs.map(s => f"$s%.2f").mkString(",")}" +
        rate + check)
      jobs.foreach { j =>
        println(f"    job ${j.id}%5d ${(j.end - j.start) / 1e3}%8.3f s  ${j.description.take(100)}")
      }
      println(f"    outside Spark jobs ${wall - covered(jobs)}%.3f s")
      done += Step(name, secs, out, jobs)
    }
  }

  /** Seconds covered by the union of the jobs' intervals. */
  private def covered(jobs: Seq[JobLog.Job]): Double =
    jobs.sortBy(_.start).foldLeft((0L, Long.MinValue)) { case ((sum, reach), j) =>
      (sum + math.max(0L, j.end - math.max(j.start, reach)), math.max(reach, j.end))
    }._1 / 1e3

  private def withConf[T](spark: SparkSession, kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `dir`, written by `write` unless a committed copy is there. */
  private def cached(spark: SparkSession, dir: String)(write: String => Unit): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!Commit.committed(fs, dir)) Commit.write(fs, dir)(write(dir))
    dir
  }

  private def persisted(df: DataFrame): DataFrame = { df.persist().count(); df }

  private def sf01Docs(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$Sf01/documents.parquet")

  /** sf0.1's 5k documents `copies` times: every 7th copy keeps the
    * original text (planted exact and near duplicates), the others get a
    * per-copy salt word.
    */
  private def opsDocs(spark: SparkSession, copies: Int): String =
    cached(spark, s"target/opsbench-docs-$copies") { dir =>
      sf01Docs(spark).crossJoin(spark.range(0, copies).select(col("id").as("copy")))
        .select(
          (col("doc_id") * copies + col("copy")).as("doc_id"),
          when(pmod(col("copy"), lit(7)) === 0, col("text"))
            .otherwise(concat(col("text"), lit(" salt"), col("copy").cast("string"))).as("text"),
          col("source"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(dir)
    }

  /** sf0.1's documents as 200 salted copies: 1M docs, no `source`. */
  private def codegenDocs(spark: SparkSession): String =
    cached(spark, "target/codegenbench-docs") { dir =>
      sf01Docs(spark).crossJoin(spark.range(0, 200).select(col("id").as("copy")))
        .select((col("doc_id") * 200 + col("copy")).as("doc_id"),
          concat(col("text"), lit(" salt"), col("copy").cast("string")).as("text"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(dir)
    }

  /** 8M deterministic pairs of float[64] vectors `va`, `vb`. */
  private def codegenVecs(spark: SparkSession): String =
    cached(spark, "target/codegenbench-vecs") { dir =>
      def vec(salt: Int) = transform(sequence(lit(0), lit(63)),
        j => (pmod(xxhash64(col("id"), j, lit(salt)), lit(1000)).cast("double")
          / 500.0 - 1.0).cast("float"))
      spark.range(0, 8000000L).select(col("id"), vec(1).as("va"), vec(2).as("vb"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(dir)
    }

  private def query(spark: SparkSession, sfDir: String, names: Seq[String], runs: Int,
                    plansDir: Option[String], suffix: String): Seq[Step] = {
    val defs = Queries.defs.toMap
    val bad = names.filterNot(defs.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(",")}")
    // q40 probes an index built outside the timed region, as in Bench
    if (names.contains("q40_incremental_dedup")) Queries.ensureQ40Index(spark, sfDir)
    Try(spark.read.parquet(s"$sfDir/nation.parquet").count()) // warm the readers
    val step = new Steps(spark, runs, "rows")
    for (name <- names) {
      val fn = defs(name).fn
      plansDir.foreach { dir =>
        new java.io.File(dir).mkdirs()
        val out = new java.io.PrintWriter(s"$dir/$name$suffix.txt")
        try out.println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        finally out.close()
      }
      step(name)(fn(spark, sfDir).count())
    }
    step.done.toSeq
  }

  /** Decode floors, then each stage of the validation suite alone. */
  private def suite(spark: SparkSession, rows: Long, runs: Int): Seq[Step] = {
    val cfg = SequenceSynth.Config(rows = rows)
    val dir = cached(spark, s"target/bench-seqs-$rows") { dir =>
      SequenceSynth.write(spark, cfg, dir, buckets = spark.sparkContext.defaultParallelism)
      SequenceSynth.sourcesDim(spark, cfg).write.mode("overwrite").parquet(s"$dir-dim")
    }
    val suiteCfg = Validator.SuiteConfig(vocabSize = cfg.vocabSize,
      minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)
    def df = spark.read.parquet(dir)
    def validate() = Validator.validateOneScan(spark, df, spark.read.parquet(s"$dir-dim"), suiteCfg)
    validate() // warm the JIT and the page cache
    spark.catalog.clearCache()

    val step = new Steps(spark, runs, "rows")
    step("scan_count_only", rows)(df.count())
    step("scan_ntok_sum", rows)(df.agg(sum("n_tok")).head().get(0))
    step("scan_tokens_sum_size", rows)(df.agg(sum(size(col("tokens")))).head().get(0))
    step("scan_tokens_stats_walk", rows)(
      df.agg(sum(TokenStats.token_stats(col("tokens")).getField("max"))).head().get(0))
    step("stage_violations_count", rows)(Validator.violations(df, suiteCfg).count())
    // the pass as validateOneScan runs it: the stats ride the uniqueness
    // exchange, one action
    step("stage_stats_uniqueness", rows) {
      val (observed, statsThunk) = Validator.observeStats(df, suiteCfg)
      val dups = Validator.dupStats(observed, suiteCfg).get
      statsThunk()
      dups
    }
    // uniqueness alone, as a resume over a changed input runs it
    step("stage_dup_stats", rows)(Validator.dupStats(df, suiteCfg).get)
    step("full_validate_one_scan", rows)(validate().verdicts.filter(!col("pass")).count())
    step.done.toSeq
  }

  /** The pipeline operators over [[opsDocs]], with the span miner's
    * window derivation and the span cut alone (spans mined outside the
    * timer; native walk vs the composed twin, sparse and dense spans).
    */
  private def ops(spark: SparkSession, copies: Int, runs: Int): Seq[Step] = {
    val corpus = opsDocs(spark, copies)
    def docs = spark.read.parquet(corpus)
    val nDocs = copies * 5000L
    val step = new Steps(spark, runs, "docs")

    step("quality_filter", nDocs)(
      QualityFilter.annotate(docs, "text").filter(!col("keep")).count())
    step("redaction", nDocs)(
      Redaction.annotate(docs, "text")
        .agg(sum(col("n_email") + col("n_phone"))).head().getLong(0))
    step("exact_dedup", nDocs)(Dedup.dropExactDuplicates(docs, "text", "doc_id").value.count())
    step("windows_derive", nDocs)(
      docs.select(col("doc_id"), posexplode(TextOps.shingles(col("text"), 8))).count())
    step("dup_spans", nDocs)(DupSpans.dupSpans(docs, "text", "doc_id").value.count())
    step("dup_spans_keepfirst", nDocs)(
      DupSpans.dupSpansKeepFirst(docs, "text", "doc_id").value.count())

    // 20 two-word spans per doc: the composed twin pays words x spans
    // interpreted lambdas per row, the native walk words + spans log spans
    def denseSpans = docs.crossJoin(spark.range(0, 20).select(col("id").as("i")))
      .select(col("doc_id").as("id"), (col("i") * 3).as("span_start"),
        lit(2L).as("span_words"))
    def keepFirstSpans = DupSpans.dupSpansKeepFirst(docs, "text", "doc_id").value
    for ((kind, spans) <- Seq("cut_only" -> (() => keepFirstSpans), "dense_cut" -> (() => denseSpans));
         (twin, cut) <- Seq("native" -> (DupSpans.cutSpans _), "hof" -> (DupSpans.cutSpansComposed _))) {
      val mined = persisted(spans())
      step(s"${kind}_$twin", nDocs)(cut(docs, "text", "doc_id", mined)
        .agg(sum(length(col("text_cut")))).head().getLong(0))
    }

    step("minhash_pairs", nDocs)(
      Dedup.minhashCandidates(docs, "text", "doc_id", bands = 16, minJaccard = 0.8).value.count())
    step("packing", nDocs)(
      Packing.packGreedy(docs.withColumn("len", length(col("text"))),
        "source", "doc_id", "len", 4096).count())
    // the synthetic corpus's tiny vocabulary makes every 3-gram
    // boilerplate at this scale (df 100-750): this times the exact,
    // worst-case join
    step("decontamination", nDocs)(
      Decontamination.containmentPairs(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", minContainment = 0.9).count())
    step.done.toSeq
  }

  /** Per-batch cost of the streaming pipeline over `batches` doc_id-mod
    * slices of `input`. It must stay about flat as the kept corpus grows:
    * a batch touches the prior corpus only through index probes.
    */
  private def stream(spark: SparkSession, input: String, batches: Int,
                     maxDeltas: Int): Seq[Step] = {
    val state = java.nio.file.Files.createTempDirectory("graft-profile-stream").toString
    val docs = spark.read.parquet(input)
    val withSource =
      if (docs.columns.contains("source")) docs else docs.withColumn("source", lit("s"))
    val p = StreamingPipeline.Params(maxIndexDeltas = maxDeltas)
    val step = new Steps(spark, 1, "docs")
    try {
      for (b <- 0 until batches) {
        step(s"batch $b")(StreamingPipeline.processBatch(spark,
          withSource.filter(pmod(col("doc_id"), lit(batches)) === b), b.toLong, state, p))
        println(s"    kept corpus: ${spark.read.parquet(StreamingPipeline.trainPath(state)).count()}")
      }
      step.done.toSeq
    } finally MicroBatch.fs(spark, state).delete(new Path(state), true)
  }

  /** The projection-side native expressions on inputs big enough to swamp
    * job overhead, with `spark.sql.codegen.fallback` off so that code that
    * does not compile fails instead of silently timing the interpreted path.
    */
  private def codegen(spark: SparkSession, runs: Int): Seq[Step] = {
    val (docsDir, vecsDir) = (codegenDocs(spark), codegenVecs(spark))
    def docs = spark.read.parquet(docsDir)
    def vecs = spark.read.parquet(vecsDir)
    val (nDocs, nVecs) = (1000000L, 8000000L)
    // decimal sums: a raw sum of longs overflows under ANSI
    def decSum(c: Column) = sum(c.cast("decimal(38,0)"))
    val step = new Steps(spark, runs, "rows")
    def codegenStep(name: String, units: Long)(body: => Any): Unit =
      withConf(spark, "spark.sql.codegen.fallback" -> "false")(step(name, units)(body))

    codegenStep("char_class_counts", nDocs)(
      docs.select(TextOps.charClassCounts(col("text")).as("c"))
        .agg(sum(col("c.n_alpha"))).head().getLong(0))
    codegenStep("cosine_sim", nVecs)(
      vecs.select(CosineSim.cosine_sim(col("va"), col("vb")).as("c"))
        .agg(sum(col("c"))).head().getDouble(0))
    val spans = persisted(DupSpans.dupSpansKeepFirst(docs, "text", "doc_id").value)
    codegenStep("cut_spans", nDocs)(
      DupSpans.cutSpans(docs, "text", "doc_id", spans)
        .agg(sum(length(col("text_cut")))).head().getLong(0))
    // the candidate-mining signature projections of q19/q20/q21/q33
    codegenStep("shingle_hashes", nDocs)(
      docs.select(ShingleHashes.shingle_hashes(col("text"), 3).as("sh"))
        .agg(decSum(element_at(col("sh"), 1)), sum(size(col("sh")))).head().get(1))
    codegenStep("shingle_minhash", nDocs)(
      docs.select(MinHash64.minhash(ShingleHashes.shingle_hashes(col("text"), 3), 32).as("sig"))
        .agg(decSum(element_at(col("sig"), 1))).head().get(0))
    codegenStep("shingle_simhash", nDocs)(
      docs.select(SimHash64.simhash(ShingleHashes.shingle_hashes(col("text"), 3)).as("sig"))
        .agg(decSum(col("sig"))).head().get(0))
    codegenStep("rhp_signature", nVecs)(
      vecs.select(RhpSignature.rhp_signature(col("va"), 8, 7L).as("sig"))
        .agg(decSum(col("sig"))).head().get(0))
    // IVF cell assignment at q30's shape (nlist=16, dim=64)
    val cents: Array[Array[Float]] = Array.tabulate(16)(c =>
      Array.tabulate(64)(j => (((c * 64L + j) * 2654435761L % 1000) / 500.0 - 1.0).toFloat))
    codegenStep("nearest_cell", nVecs)(
      vecs.select(Ivf.nearestCell(col("va"), cents).as("c")).agg(sum(col("c"))).head().getLong(0))
    step.done.toSeq
  }
}
