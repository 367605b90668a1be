package graft.lineage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.constraints.{ResumableValidator, Validator}
import graft.ops.{IncrementalDedup, Ivf}
import graft.sequences.SequenceSynth
import graft.streaming.CompactedIndex

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
  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString
  private def rm(p: String): Unit = fs(p).delete(new Path(p), true)
  private def uncommit(dir: String): Unit = rm(s"$dir/${Commit.Marker}")

  /** One writer: its crash states by step (each builds the state in the
    * given dir) and its next run, which asserts equality with a
    * from-scratch run.
    */
  private final case class Writer(name: String, steps: Seq[(String, String => Unit)],
                                  nextRunEqualsScratch: String => Unit)

  // ---- validate-resume: violations, stats, manifests (atomic), verdicts
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
    rm(Checkpoint.verdictsPath(state))
    cut(state)
  }
  private def manifest(state: String, source: String) =
    new Path(s"$state/manifests/$source.json")

  private val validateResume = Writer("validate-resume",
    Seq(
      "violations written" -> resumeState { st =>
        rm(Checkpoint.statsPath(st)); rm(s"$st/manifests")
      },
      "stats written" -> resumeState(st => rm(s"$st/manifests")),
      // delete-then-rename died between its two steps: the temp file is
      // written, the old manifest is gone and nothing took its place
      "manifest temp written" -> resumeState { st =>
        val m = manifest(st, "web")
        fs(st).rename(m, Commit.tempPath(m))
      }),
    state => {
      assert(Checkpoint.plan(spark, seqInput, state)._2.nonEmpty,
        "an unfinished run must leave partitions to validate")
      assert(outcome(ResumableValidator.run(spark, seqInput, seqDim, suite, state)) ==
        scratchRun)
      val (done, todo) = Checkpoint.plan(spark, seqInput, state)
      assert(todo.isEmpty && done.size == 5)
      assert(!fs(state).exists(Commit.tempPath(manifest(state, "web"))))
    })

  // ---- index append plus sidecar: the combined-cap corpus (every bucket
  // of 5 indexed + 2 appended + 2 probed identical docs holds 9 rows)
  private val same = "the quick brown fox jumps over the lazy dog near the river bank same"
  private def docs(ids: Long*) = ids.map(i => (i, same)).toDF("doc_id", "text")
  private def indexed = docs(1L to 5L: _*)
  private def appended = docs(10L, 11L)
  private def mine(dir: String, cap: Int): Set[(Long, Long)] =
    IncrementalDedup.newDocCandidates(spark, docs(20L, 21L), "text", "doc_id", dir,
      maxBucket = cap).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private val caps = Seq(8, 10) // 9-row buckets: dropped at 8, mined at 10
  private lazy val scratchMined = {
    val dir = s"${tmp("crash-idx-scratch")}/idx"
    IncrementalDedup.writeIndex(indexed.unionByName(appended), "text", "doc_id", dir)
    caps.map(mine(dir, _))
  }

  private val indexAppend = Writer("index append plus sidecar",
    Seq(
      "rows appended" -> { root =>
        val dir = s"$root/idx"
        IncrementalDedup.writeIndex(indexed, "text", "doc_id", dir)
        uncommit(dir)
        IncrementalDedup.signatureRows(appended, "text", "doc_id", 3, 32, 16)
          .write.mode("append").partitionBy("band").parquet(dir)
      },
      "sidecar rewritten" -> { root =>
        val dir = s"$root/idx"
        IncrementalDedup.writeIndex(indexed, "text", "doc_id", dir)
        IncrementalDedup.writeIndex(appended, "text", "doc_id", dir, mode = "append")
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

  // ---- Ivf: a rebuild (index B over index A) writes assigned, then centroids
  private def vecs(seed: Int) = (0 until 200).map { i =>
    (i.toLong, Seq.tabulate(8)(j => math.sin(i * seed + j * 5).toFloat))
  }.toDF("vec_id", "embedding")
  private def indexB = Ivf.build(vecs(11), "embedding", "vec_id", nlist = 8)
  private val query = Seq.tabulate(8)(j => math.cos(j * 3).toFloat)
  private def probe(dir: String) = {
    val idx = Ivf.readIndex(spark, dir)
    (idx.centroids.map(_.toSeq).toSeq,
      Ivf.topK(idx, "embedding", "vec_id", query, 5, nProbe = 2).collect().map(_.getLong(0)).toSeq)
  }
  private lazy val scratchProbe = {
    val dir = s"${tmp("crash-ivf-scratch")}/ivf"
    Ivf.writeIndex(indexB, dir)
    probe(dir)
  }

  private val ivf = Writer("Ivf",
    Seq("assigned rewritten" -> { root =>
      val dir = s"$root/ivf"
      Ivf.writeIndex(Ivf.build(vecs(13), "embedding", "vec_id", nlist = 4), dir)
      uncommit(dir)
      indexB.assigned.write.mode("overwrite").partitionBy("__cell").parquet(s"$dir/assigned")
    }),
    root => {
      val dir = s"$root/ivf"
      // the reader refuses new cells under old centroids; the rerun rebuilds
      intercept[IllegalArgumentException](Ivf.readIndex(spark, dir))
      Ivf.writeIndex(indexB, dir)
      assert(probe(dir) == scratchProbe)
    })

  for (w <- Seq(validateResume, indexAppend, compaction, ivf); (step, crash) <- w.steps)
    test(s"${w.name}: crash after $step, the next run equals a from-scratch run") {
      val dir = tmp("crash")
      crash(dir)
      w.nextRunEqualsScratch(dir)
    }
}
