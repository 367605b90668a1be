package graft.lineage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.constraints.{ResumableValidator, Validator}
import graft.ops.IncrementalDedup
import graft.sequences.SequenceSynth
import graft.streaming.{CompactedIndex, StreamingValidator}

/** Crash consistency of every persisted artifact. For each writer and each
  * of its write steps, a case builds in a fresh directory the state the
  * writer leaves when it dies right after that step, runs the NEXT run over
  * it, and asserts the result equals a from-scratch run. The states are
  * built from the outside (a finished write minus its later steps, or the
  * step's own write), so the writers carry no test hook.
  */
class CrashStateSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fs(p: String) = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmp(name: String) = SharedSpark.tempDir(name)
  private def rm(p: String): Unit = fs(p).delete(new Path(p), true)
  private def uncommit(dir: String): Unit = rm(s"$dir/${Commit.Marker}")

  /** One writer: its crash states by step (each builds the state in the
    * given dir) and its next run, which asserts equality with a
    * from-scratch run.
    */
  private final case class Writer(name: String, steps: Seq[(String, String => Unit)],
                                  nextRunEqualsScratch: String => Unit)

  // ---- validate-resume: violations, then one state file per source
  // (lineage + stats, atomic)
  private val seqCfg = SequenceSynth.Config(rows = 8000)
  private val suite = Validator.SuiteConfig(vocabSize = seqCfg.vocabSize,
    minNtok = seqCfg.minNtok, maxNtok = seqCfg.maxNtok + 1)
  private lazy val seqInput = {
    val p = s"${tmp("crash-seqs")}/seqs"
    SequenceSynth.write(spark, seqCfg, p, buckets = 4)
    p
  }
  private lazy val seqDim = SequenceSynth.sourcesDim(spark, seqCfg)

  /** Verdicts, violations and exact stats of a run; drift checks compare
    * on the decision only (randomized KLL compaction).
    */
  private def outcome(s: ResumableValidator.RunSummary) = {
    val verdicts = s.report.verdicts.collect().map { r =>
      if (r.getString(1) == "ntok_drift") (r.getString(0), r.getString(1), r.getBoolean(2), "")
      else (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3))
    }.toSet
    val violations = s.report.violations
      .select(col("doc_id"), col("source"), col("checks").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val exact = Seq("source", "n_rows", "n_ntok_mismatch", "n_null_token", "n_oov_token",
      "n_ntok_bounds", "n_null_docid", "min_ntok", "max_ntok", "min_token", "max_token",
      "min_docid_len", "max_docid_len")
    val stats = s.report.sourceStats.select(exact.map(col): _*).collect().map(_.toSeq).toSet
    (verdicts, violations, stats, s.totalRows)
  }
  private lazy val scratchRun = outcome(ResumableValidator.run(
    spark, seqInput, seqDim, suite, s"${tmp("crash-scratch")}/state"))

  /** A finished first run, cut back to the state after one step. */
  private def resumeState(cut: String => Unit)(state: String): Unit = {
    ResumableValidator.run(spark, seqInput, seqDim, suite, state)
    cut(state)
  }
  private def stateFile(state: String, source: String) = new Path(s"$state/sources/$source")

  private val validateResume = Writer("validate-resume",
    Seq(
      "violations written" -> resumeState(st => rm(s"$st/sources")),
      // delete-then-rename died between its two steps: the temp file is
      // written, the old state file is gone and nothing took its place
      "state file temp written" -> resumeState { st =>
        val f = stateFile(st, "web")
        fs(st).rename(f, Commit.tempPath(f))
      }),
    state => {
      assert(Checkpoint.plan(spark, seqInput, state)._2.nonEmpty,
        "an unfinished run must leave partitions to validate")
      assert(outcome(ResumableValidator.run(spark, seqInput, seqDim, suite, state)) ==
        scratchRun)
      val (done, todo) = Checkpoint.plan(spark, seqInput, state)
      assert(todo.isEmpty && done.size == 5)
      assert(!fs(state).exists(Commit.tempPath(stateFile(state, "web"))))
    })

  // ---- validate-resume uniqueness: the cross-partition totals, written
  // after every source's state file, keyed by the whole input's lineage
  private def uniquenessFile(state: String) = new Path(s"$state/uniqueness")
  private def currentInput = Checkpoint.inputFingerprint(Checkpoint.inputPartitions(spark, seqInput))

  private val resumeUniqueness = Writer("validate-resume uniqueness",
    Seq(
      "state files written" -> resumeState(st => rm(uniquenessFile(st).toString)),
      "uniqueness temp written" -> resumeState { st =>
        val f = uniquenessFile(st)
        fs(st).rename(f, Commit.tempPath(f))
      }),
    state => {
      assert(Checkpoint.plan(spark, seqInput, state)._2.isEmpty &&
        Checkpoint.readUniqueness(spark, state).isEmpty,
        "every source is current and the totals are missing")
      assert(outcome(ResumableValidator.run(spark, seqInput, seqDim, suite, state)) ==
        scratchRun)
      assert(Checkpoint.readUniqueness(spark, state).map(_._1).contains(currentInput))
      assert(!fs(state).exists(Commit.tempPath(uniquenessFile(state))))
    })

  test("validate-resume uniqueness: a file written before a source changed is never served") {
    val root = tmp("crash-stale")
    val (input, state) = (s"$root/seqs", s"$root/state")
    SequenceSynth.write(spark, seqCfg, input, buckets = 4)
    val before = ResumableValidator.run(spark, input, seqDim, suite, state)
    // five web rows again, in a new file: web's lineage changes and its
    // five ids are duplicated once more
    spark.read.parquet(s"$input/source=web").limit(5)
      .write.mode("append").parquet(s"$input/source=web")
    val stale = Checkpoint.readUniqueness(spark, state).get
    val now = Checkpoint.inputFingerprint(Checkpoint.inputPartitions(spark, input))
    assert(stale._1 != now)

    val resumed = ResumableValidator.run(spark, input, seqDim, suite, state)
    assert(resumed.validatedSources == Seq("web"))
    val scratch = ResumableValidator.run(spark, input, seqDim, suite, s"$root/scratch")
    assert(outcome(resumed) == outcome(scratch))
    def uniqueness(s: ResumableValidator.RunSummary) = s.report.verdicts
      .filter(col("check") === "uniqueness").collect().map(_.getString(3)).toSeq
    assert(uniqueness(resumed) != uniqueness(before), "the stale totals were served")
    assert(Checkpoint.readUniqueness(spark, state).map(_._1).contains(now))
  }

  // ---- stream stats: each micro-batch commits gen-<batchId>/stats; three
  // one-file batches over the sequences rows
  private lazy val streamInput = {
    val p = s"${tmp("crash-stream")}/in"
    SequenceSynth.sequences(spark, seqCfg).repartition(3, col("doc_id")).write.parquet(p)
    p
  }
  private def streamRun(state: String): Set[Seq[Any]] = {
    StreamingValidator.start(spark, streamInput, state, seqDim, suite,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    val exact = Seq("source", "n_rows", "n_ntok_mismatch", "n_null_token", "n_oov_token",
      "n_ntok_bounds", "n_null_docid", "min_ntok", "max_ntok", "min_token", "max_token",
      "min_docid_len", "max_docid_len", "hist_token")
    StreamingValidator.readStats(spark, state).get._2
      .map(r => exact.map(r.getAs[Any])).toSet
  }
  private lazy val scratchStream = streamRun(s"${tmp("crash-stream-scratch")}/state")

  private val streamStats = Writer("stream stats",
    Seq(
      // batch 2 wrote its generation and died before the marker (and so
      // before the stream committed the batch): batch 2 replays, merging
      // from gen-1
      "stats generation written, marker not" -> { state =>
        streamRun(state)
        uncommit(s"${StreamingValidator.statsPath(state)}/gen-2")
        rm(s"${StreamingValidator.checkpointPath(state)}/commits/2")
        assert(StreamingValidator.readStats(spark, state).map(_._1).contains(1L))
      }),
    state => {
      assert(streamRun(state) == scratchStream)
      assert(StreamingValidator.readStats(spark, state).map(_._1).contains(2L))
    })

  // ---- index rebuild plus sidecar: the combined-cap corpus (every bucket
  // of 5 + 2 indexed and 2 probed identical docs holds 9 rows); a growing
  // corpus is re-indexed as a whole, over an index of the first 5
  private val same = "the quick brown fox jumps over the lazy dog near the river bank same"
  private def docs(ids: Long*) = ids.map(i => (i, same)).toDF("doc_id", "text")
  private def indexed = docs(1L to 5L: _*)
  private def grown = indexed.unionByName(docs(10L, 11L))
  private def mine(dir: String, cap: Int): Set[(Long, Long)] =
    IncrementalDedup.newDocCandidates(spark, docs(20L, 21L), "text", "doc_id", dir,
      maxBucket = cap).value.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private val caps = Seq(8, 10) // 9-row buckets: dropped at 8, mined at 10
  private lazy val scratchMined = {
    val dir = s"${tmp("crash-idx-scratch")}/idx"
    IncrementalDedup.writeIndex(grown, "text", "doc_id", dir)
    caps.map(mine(dir, _))
  }

  private val indexRebuild = Writer("index rebuild plus sidecar",
    Seq(
      // the static overwrite drops the old sidecar with the old rows: a
      // probe must derive counts here, never read `_graft_counts`
      "rows rewritten" -> { root =>
        val dir = s"$root/idx"
        IncrementalDedup.writeIndex(indexed, "text", "doc_id", dir)
        uncommit(dir)
        IncrementalDedup.signatureRows(grown, "text", "doc_id", 3, 32, 16)
          .write.mode("overwrite").partitionBy("band").parquet(dir)
      },
      "sidecar rewritten" -> { root =>
        val dir = s"$root/idx"
        IncrementalDedup.writeIndex(indexed, "text", "doc_id", dir)
        IncrementalDedup.writeIndex(grown, "text", "doc_id", dir)
        uncommit(dir)
      }),
    root => {
      assert(scratchMined(0).isEmpty && scratchMined(1).size == 15)
      assert(caps.map(mine(s"$root/idx", _)) == scratchMined)
      spark.catalog.clearCache()
    })

  // ---- compaction: deltas 0..2 fold into gen-2 at the end of batch 2
  private def batchRows(b: Long) = (0 until 3).map(i => (b * 1000 + i, s"band${i % 2}"))
    .toDF("id", "band")
  private def batchIds(bs: Long*) = bs.flatMap(b => (0 until 3).map(b * 1000 + _)).toSet
  private def readIds(root: String, exclude: Long): Set[Long] =
    CompactedIndex.read(spark, fs(root), root, exclude)
      .map(_.select("id").collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
  private def runBatch(root: String, b: Long): Unit = {
    CompactedIndex.append(batchRows(b), root, b, Seq("band"))
    CompactedIndex.maybeCompact(spark, fs(root), root, b, 1, Seq("band"))
  }

  private val compaction = Writer("compaction",
    Seq("generation written" -> { root =>
      (0L to 2L).foreach(runBatch(root, _))
      assert(CompactedIndex.readState(fs(root), root).gen.contains("gen-2"))
      uncommit(s"${CompactedIndex.basePath(root)}/gen-2")
    }),
    root => {
      assert(readIds(root, 3L) == batchIds(0L, 1L, 2L))
      runBatch(root, 3L)
      assert(readIds(root, 4L) == batchIds(0L, 1L, 2L, 3L))
      assert(readIds(root, 3L) == batchIds(0L, 1L, 2L))
    })

  for (w <- Seq(validateResume, resumeUniqueness, streamStats, indexRebuild, compaction); (step, crash) <- w.steps)
    test(s"${w.name}: crash after $step, the next run equals a from-scratch run") {
      val dir = tmp("crash")
      crash(dir)
      w.nextRunEqualsScratch(dir)
    }
}
