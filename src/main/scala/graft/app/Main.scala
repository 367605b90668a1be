package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.constraints.{ResumableValidator, SuiteStatsBySourceAgg, Validator}
import graft.sequences.SequenceSynth

/** spark-submit entry point: one subcommand per run, from the `commands`
  * list below.
  *
  * Mirrors the reference's top-level driver (`analyze-json-schema`,
  * core.clj:57-67): run the suite, print the per-partition verdict
  * summary "Analyzed N entries. K failed.".
  */
object Main {

  def session(appName: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      : SparkSession = {
    val shufflePartitions = math.max(cpus.toInt * 2, 8)
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // applied as the context starts, ahead of its INFO start-up lines
      .config("spark.log.level", "WARN")
      .getOrCreate()
  }

  /** `--k v` pairs plus bare `--flag` (value ""). The old sliding(2,2)
    * parse silently DROPPED a dangling flag and desynced every pair after
    * it (round-4 ADVICE: `--follow` alone fell through to AvailableNow);
    * now a flag without a value records the empty string — callers use
    * [[flagOr]] so defaults like the 30-second follow interval apply.
    */
  private def argMap(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --key, got '$a'")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(a.stripPrefix("--")) = args(i + 1); i += 2
      } else { m(a.stripPrefix("--")) = ""; i += 1 }
    }
    m.toMap
  }

  /** The flag's value, or `default` when absent OR present bare. */
  private def flagOr(opts: Map[String, String], key: String,
                     default: String): String =
    opts.get(key).filter(_.nonEmpty).getOrElse(default)

  /** The streaming commands' trigger: AvailableNow (one scheduled run
    * over what is there), or `--follow [interval]` (default 30 seconds)
    * for the always-on daemon.
    */
  private def streamTrigger(opts: Map[String, String]): Trigger =
    if (opts.contains("follow"))
      Trigger.ProcessingTime(flagOr(opts, "follow", "30 seconds"))
    else Trigger.AvailableNow()

  // ONE list both error paths share — the unknown-command message had
  // drifted five subcommands behind the usage banner
  private val commands = "synth|validate|state-audit|throughput|infer|" +
    "stream|pipeline|cut-spans|chunk|diff|boilerplate|dedup-stream|" +
    "pipeline-stream"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: Main ($commands) [--k v]...")
    val cmd = args.head
    val opts = argMap(args.tail)
    val spark = session(s"graft-$cmd")
    try cmd match {
      case "synth" =>
        val cfg = SequenceSynth.Config(rows = flagOr(opts, "rows", "100000").toLong)
        val out = flagOr(opts, "out", "data/sequences")
        SequenceSynth.write(spark, cfg, out,
          buckets = flagOr(opts, "buckets", "8").toInt)
        SequenceSynth.sourcesDim(spark, cfg).write.mode("overwrite")
          .parquet(s"$out-dim")
        println(s"Wrote ${cfg.rows} sequences to $out (dim at $out-dim).")
        println(s"Planted violations: ${SequenceSynth.expectedViolationCounts(cfg)}")

      case "validate" =>
        val input = opts("input")
        val dim = spark.read.parquet(flagOr(opts, "dim", s"$input-dim"))
        val cfg = Validator.SuiteConfig()
        val t0 = System.nanoTime()
        val summary = opts.get("state") match {
          case Some(statePath) =>
            ResumableValidator.run(spark, input, dim, cfg, statePath)
          case None =>
            val df = spark.read.parquet(input)
            val rep = Validator.validateOneScan(spark, df, dim, cfg)
            // summed on the driver: a table with no rows has no stats
            // rows, and its stats frame has no n_rows column to aggregate
            ResumableValidator.RunSummary(rep, Nil, Nil,
              rep.sourceStats.collect().map(_.getAs[Long]("n_rows")).sum)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val verdicts = summary.report.verdicts.collect()
        val failed = verdicts.count(!_.getAs[Boolean]("pass"))
        println(f"Analyzed ${summary.totalRows} entries. $failed constraint(s) failed.")
        if (summary.validatedSources.nonEmpty || summary.skippedSources.nonEmpty)
          println(s"Validated partitions: ${summary.validatedSources.sorted.mkString(",")}" +
            s" | skipped (checkpointed): ${summary.skippedSources.sorted.mkString(",")}")
        verdicts.sortBy(r => (r.getAs[String]("source"), r.getAs[String]("check")))
          .foreach { r =>
            val mark = if (r.getAs[Boolean]("pass")) "PASS" else "FAIL"
            println(f"  [$mark] ${r.getAs[String]("source")}%-8s ${r.getAs[String]("check")}%-15s " +
              s"observed=${r.getAs[String]("observed")} expected=${r.getAs[String]("expected")}")
          }
        println(f"throughput: ${summary.totalRows / secs}%.0f validated sequences/sec ($secs%.1f s)")
        if (opts.contains("suggest-ddl")) {
          println("Suggested narrowest-fitting DDL (observed -> column):")
          Validator.suggestDdl(summary.report.sourceStats.collect())
            .foreach { case (s, c, obs, ddl) =>
              println(f"  $s%-8s $c%-16s $obs%-24s -> $ddl")
            }
        }

      case "throughput" =>
        // bench body lives in graft.BenchScaling; this alias keeps the
        // spark-submit surface in one place
        graft.BenchScaling.main(args.tail)

      case "infer" =>
        // distributed analyze-json-schema (reference core.clj:57-67) over
        // JSONL files/globs
        val policy: graft.types.MergePolicy =
          if (flagOr(opts, "analysis", "comprehensive") == "simple")
            graft.types.SimplifyMerge else graft.types.StrictMerge
        val dateFormats = opts.get("date-format").toSeq
        val res = graft.ingest.JsonSchemaInference.inferFiles(
          spark, opts("input").split(",").toSeq, policy, dateFormats)
        println(s"Analyzed ${res.seen} entries. ${res.failed} failed.")
        println(res.render)
        res.schema.filter(_ => opts.get("export").contains("avro"))
          .foreach(s => println(graft.export.AvroExport.toAvro(s)))

      case "stream" =>
        // continuous validation of a growing flat directory of parquet
        // files (source as a data column); AvailableNow by default — the
        // "incremental batch" deployment (schedule reruns; each picks up
        // only new files). --follow runs an always-on daemon.
        val input = opts("input")
        val statePath = flagOr(opts, "state", s"$input-stream-state")
        val dim = spark.read.parquet(flagOr(opts, "dim", s"$input-dim"))
        val q = graft.streaming.StreamingValidator.start(
          spark, input, statePath, dim, Validator.SuiteConfig(), streamTrigger(opts))
        q.awaitTermination()
        graft.streaming.StreamingValidator.readStats(spark, statePath).foreach {
          case (batchId, stats) =>
            val rows = stats.map(_.getAs[Long]("n_rows")).sum
            println(s"Stream state at batch $batchId: $rows rows across ${stats.length} sources.")
        }
        spark.read.parquet(graft.streaming.StreamingValidator.verdictsPath(statePath))
          .collect()
          .sortBy(r => (r.getAs[String]("source"), r.getAs[String]("check")))
          .foreach { r =>
            val mark = if (r.getAs[Boolean]("pass")) "PASS" else "FAIL"
            println(f"  [$mark] ${r.getAs[String]("source")}%-8s ${r.getAs[String]("check")}%-17s " +
              s"observed=${r.getAs[String]("observed")}")
          }

      case "pipeline" =>
        // the full training-data preparation chain (graft.ops.Pipeline)
        // over a documents table (doc_id, text, source); writes the kept,
        // packed corpus and prints the per-stage funnel
        val out = flagOr(opts, "out", s"${opts("input")}-pipeline")
        val cfg = graft.ops.Pipeline.Config(
          evalSources = opts.get("eval-sources")
            .map(_.split(",").toSeq).getOrElse(Nil),
          jaccardThreshold = flagOr(opts, "jaccard", "0.8").toDouble,
          budget = flagOr(opts, "budget", "4096").toInt,
          // --val-permille N: leakage-free holdout split columns;
          // --mix-target N: sqrt-temperature train-mix thinning;
          // --epoch-budget N: token(char)-budget epoch planning (repeats
          //   + fractional remainder per source; alternative to mix)
          valPermille = opts.get("val-permille").filter(_.nonEmpty).map(_.toInt),
          splitJaccard = flagOr(opts, "split-jaccard", "0.5").toDouble,
          mixTargetRows = opts.get("mix-target").filter(_.nonEmpty).map(_.toLong),
          epochBudgetTokens = opts.get("epoch-budget").filter(_.nonEmpty).map(_.toLong),
          // --order-shards N: deterministic training-order columns
          //   (shard, ord) on the shipped corpus (graft.ops.TrainOrder)
          orderShards = opts.get("order-shards").filter(_.nonEmpty).map(_.toInt),
          // --calibrate-trim P: drop each train source's bottom
          //   P-fraction by post-scrub length (graft.ops.Calibration)
          calibrateTrim =
            opts.get("calibrate-trim").filter(_.nonEmpty).map(_.toDouble),
          // --calibrate-lm-ref S1,S2: the trim scores on a bigram LM
          //   trained on these sources (CCNet recipe) instead of length
          calibrateLmRefSources = opts.get("calibrate-lm-ref")
            .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
          // --url-blocklist D1,D2 [--url-col url]: pre-quality
          //   registrable-domain gate (graft.ops.UrlOps)
          urlBlocklist = opts.get("url-blocklist")
            .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
          urlCol = flagOr(opts, "url-col", "url"),
          // --pack-bpe-merges N: budget packs in BPE tokens under a
          //   tokenizer trained on the shipped train corpus
          packBpeMerges = flagOr(opts, "pack-bpe-merges", "0").toInt)
        val res = graft.ops.Pipeline.run(spark.read.parquet(opts("input")), cfg)
        res.packed.write.mode("overwrite").parquet(s"$out/packs")
        res.corpus.write.mode("overwrite").parquet(s"$out/docs")
        val nKept = spark.read.parquet(s"$out/docs").count()
        val nPacks = spark.read.parquet(s"$out/packs").count()
        val budgetUnit = if (cfg.packBpeMerges > 0)
          s"tokens, BPE ${cfg.packBpeMerges} merges" else "chars"
        println(s"Pipeline: ${res.nInput} docs in -> $nKept kept -> $nPacks packs" +
          s" (budget ${cfg.budget} $budgetUnit) at $out")
        // --funnel: per-(source, stage) survivor counts — the "which
        // stage ate source X" attribution view
        if (opts.contains("funnel"))
          graft.ops.Pipeline.sourceFunnel(res)
            .orderBy(col("source"), col("stage_idx")).collect()
            .foreach { r =>
              println(f"  funnel ${r.getAs[String]("source")}%-10s " +
                f"${r.getAs[Int]("stage_idx")}%d:${r.getAs[String]("stage")}%-14s " +
                f"${r.getAs[Long]("n_docs")}%d")
            }
        res.unpersist()

      case "cut-spans" =>
        // exact-substring dedup (Lee et al.) over a documents table:
        // mine keep-first duplicated spans at --window words granularity
        // (windows hotter than --max-window-df are boilerplate and cut at
        // EVERY copy), rewrite the texts with the spans removed, report
        // the byte reduction
        val input = opts("input")
        val out = flagOr(opts, "out", s"$input-cut")
        val window = flagOr(opts, "window", "8").toInt
        val maxDf = flagOr(opts, "max-window-df", Long.MaxValue.toString).toLong
        val docs = spark.read.parquet(input)
        val spans = graft.ops.DupSpans.dupSpansKeepFirst(
          docs, "text", "doc_id", window, maxDf)
        // before/after character counts ride the WRITE as an observation
        // (the one-scan pattern) — no extra scan for the report, and
        // coalesce keeps an empty/all-null corpus at 0 instead of a
        // null-unboxing crash
        val obs = org.apache.spark.sql.Observation("cut-spans")
        graft.ops.DupSpans.cutSpans(docs, "text", "doc_id", spans.value)
          .observe(obs, count(lit(1)).as("n"),
            coalesce(sum(length(col("text"))), lit(0L)).as("before"),
            coalesce(sum(length(col("text_cut"))), lit(0L)).as("after"))
          .withColumn("text", col("text_cut")).drop("text_cut")
          .write.mode("overwrite").parquet(out)
        spans.close()
        val m = obs.get
        println(s"Cut duplicated spans (window=$window): ${m("n")} docs, " +
          s"${m("before")} -> ${m("after")} chars at $out")

      case "state-audit" =>
        // lineage audit of a validation state dir vs its input: per
        // partition, is the checkpoint CURRENT (fingerprint and suite key
        // match — a rerun skips it), CHANGED (input files or suite config
        // changed), or NEW (never validated)? Plus state files whose
        // partition left the input (ORPHANED). Read-only; run it before `validate` to
        // see what a rerun will actually do.
        val input = opts("input")
        val statePath = opts("state") // no default: validate has none,
        // and guessing a path would confidently print all-NEW for a
        // state that lives elsewhere
        // a missing input or state dir must ERROR, not render as
        // all-ORPHANED / all-NEW — this audit decides cleanups.
        // Existence resolves through the Hadoop FileSystem (round-6
        // ADVICE): java.io.File spuriously rejected glob inputs and
        // scheme-less non-local paths Checkpoint.inputPartitions reads
        locally {
          val p = new org.apache.hadoop.fs.Path(input)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val hits = fs.globStatus(p) // null for a non-glob miss
          require(hits != null && hits.nonEmpty,
            s"input path matches nothing: $input")
        }
        val stored = graft.lineage.Checkpoint.stateSources(spark, statePath)
        require(stored.nonEmpty, s"no state files under $statePath/sources: wrong " +
          "--state, validate has not run yet, or an old state layout (manifests/ + " +
          "stats/), whose partitions the next validate revalidates once")
        val key = SuiteStatsBySourceAgg.suiteKey(Validator.SuiteConfig())
        val inputs = graft.lineage.Checkpoint.inputPartitions(spark, input)
        inputs.sortBy(_.source).foreach { pl =>
          graft.lineage.Checkpoint.readState(spark, statePath, pl.source) match {
            case Some((fp, payload)) =>
              val (k, m) = SuiteStatsBySourceAgg.decodeState(payload)
              val n = m.values.map(_.nRows).sum
              println(f"  state ${pl.source}%-12s " + (if (fp == pl.fingerprint && k == key)
                s"current  n_rows=$n" else s"CHANGED  (was n_rows=$n; revalidation needed)"))
            case None =>
              println(f"  state ${pl.source}%-12s NEW      (never validated)")
          }
        }
        val live = inputs.map(_.source).toSet
        stored.filterNot(live).sorted
          .foreach(s => println(f"  state $s%-12s ORPHANED (partition left the input)"))

      case "chunk" =>
        // sliding-window chunking (graft.ops.Chunking): split long
        // documents into overlapping --chunk-words context chunks at
        // --stride-words; writes the chunk table (compose with
        // `pipeline` by feeding the chunks back in as documents)
        val input = opts("input")
        val out = flagOr(opts, "out", s"$input-chunks")
        val cw = flagOr(opts, "chunk-words", "512").toInt
        // default stride scales with the requested width (3/4 overlap
        // convention) — a fixed 384 would be refused for cw < 384
        val sw = flagOr(opts, "stride-words",
          math.max(1, cw * 3 / 4).toString).toInt
        val obs = org.apache.spark.sql.Observation("chunk")
        graft.ops.Chunking.chunk(spark.read.parquet(input),
            "text", "doc_id", cw, sw)
          .observe(obs, count(lit(1)).as("n_chunks"),
            approx_count_distinct(col("doc_id")).as("n_docs"))
          .write.mode("overwrite").parquet(out)
        val m = obs.get
        println(s"Chunked ~${m("n_docs")} docs into ${m("n_chunks")} " +
          s"chunks (chunk=$cw stride=$sw words) at $out")

      case "diff" =>
        // corpus snapshot diff (graft.ops.CorpusDiff): added / removed /
        // changed documents between --before and --after, unchanged
        // excluded — the dataset-versioning audit between two pipeline
        // iterations. Per-status counts ride the write as an observation.
        val beforePath = opts("before")
        val afterPath = opts("after")
        val out = flagOr(opts, "out", s"$afterPath-diff")
        val obs = org.apache.spark.sql.Observation("diff")
        def n(s: String) =
          coalesce(sum(when(col("status") === s, 1L)), lit(0L)).as(s)
        graft.ops.CorpusDiff.diff(spark.read.parquet(beforePath),
            spark.read.parquet(afterPath), "doc_id", "text")
          .observe(obs, n("added"), n("removed"), n("changed"))
          .write.mode("overwrite").parquet(out)
        val m = obs.get
        println(s"Corpus diff: ${m("added")} added, ${m("removed")} removed, " +
          s"${m("changed")} changed at $out")

      case "boilerplate" =>
        // boilerplate inventory (graft.ops.DupSpans.boilerplate): the
        // audit read before choosing cut-spans' --max-window-df cap;
        // prints the --top hottest windows (limit BEFORE collect: the
        // driver must never materialize the full inventory)
        val input = opts("input")
        val window = flagOr(opts, "window", "8").toInt
        val minDf = flagOr(opts, "min-df", "3").toLong
        val top = flagOr(opts, "top", "20").toInt
        graft.ops.DupSpans.boilerplate(spark.read.parquet(input),
            "text", "doc_id", window, minDf)
          .orderBy(col("df").desc, col("window_text"))
          .limit(top).collect()
          .foreach { r =>
            println(f"  df=${r.getAs[Long]("df")}%-6d docs=${
              r.getAs[Long]("n_docs")}%-6d ${r.getAs[String]("window_text")}")
          }

      case "dedup-stream" | "pipeline-stream" =>
        // near-dup mining (graft.streaming.StreamingDedup: probe the
        // signature index, write per-batch candidate pairs, append the
        // batch's signatures) or the FULL prep chain
        // (graft.streaming.StreamingPipeline: quality -> scrub -> exact
        // dedup -> near dedup, keep-first vs everything kept so far) over
        // a growing documents directory. AvailableNow by default (the
        // scheduled rerun deployment); --follow <interval> runs the
        // always-on daemon, like `stream`
        val input = opts("input")
        val dedup = cmd == "dedup-stream"
        val statePath = flagOr(opts, "state", s"$input-${cmd.stripSuffix("-stream")}-state")
        val schema = scala.util.Try(spark.read.parquet(input).schema).toOption
        if (schema.isEmpty)
          println(s"No parquet files under $input yet; nothing to ${
            if (dedup) "mine" else "process"}.")
        else if (dedup) {
          graft.streaming.StreamingDedup.start(spark, input, statePath,
            flagOr(opts, "jaccard", "0.5").toDouble,
            streamTrigger(opts), schema).awaitTermination()
          val n = scala.util.Try(spark.read.parquet(
              graft.streaming.StreamingDedup.candidatesPath(statePath)).count())
            .getOrElse(0L)
          println(s"Candidate near-dup pairs so far: $n (state at $statePath)")
        } else {
          graft.streaming.StreamingPipeline.start(spark, input, statePath,
            graft.streaming.StreamingPipeline.Params(
              minJaccardEst = flagOr(opts, "est-jaccard", "0.2").toDouble,
              jaccardThreshold = flagOr(opts, "jaccard", "0.8").toDouble),
            streamTrigger(opts), schema).awaitTermination()
          def cnt(p: String): Long =
            scala.util.Try(spark.read.parquet(p).count()).getOrElse(0L)
          println("Streaming pipeline state: " +
            s"${cnt(graft.streaming.StreamingPipeline.trainPath(statePath))} kept, " +
            s"${cnt(graft.streaming.StreamingPipeline.rejectsPath(statePath))} rejected " +
            s"(state at $statePath)")
          // deployment-lifetime funnel (round 6): per-stage totals across
          // all batches, the streaming twin of `pipeline --funnel`.
          // Explicit absence check, not a swallow-everything Try: a
          // pre-round-6 state simply HAS no funnel dir, but a corrupted
          // one must error loudly, not silently print nothing
          val funnelDir = graft.streaming.StreamingPipeline.funnelPath(statePath)
          if (graft.streaming.MicroBatch.nonEmptyDir(
              graft.streaming.MicroBatch.fs(spark, funnelDir), funnelDir))
            graft.streaming.StreamingPipeline.funnelTotals(spark, statePath)
              .groupBy(col("stage_idx"), col("stage"))
              .agg(sum(col("n_docs")).as("n"))
              .orderBy(col("stage_idx"))
              .collect()
              .foreach(r => println(f"  funnel ${r.getString(1)}%-12s ${r.getLong(2)}%d"))
        }

      case other => sys.error(s"unknown command '$other' (want $commands)")
    } finally spark.stop()
  }
}
