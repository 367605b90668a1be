package graft.constraints

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.lineage.Checkpoint
import graft.sequences.SequenceSynth

class ResumeSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  val cfg = SequenceSynth.Config(rows = 20000)
  val suite = Validator.SuiteConfig(
    vocabSize = cfg.vocabSize, minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)

  /** Full tuples, except drift checks compare on decision only: KLL merge
    * compaction is randomized, so drift READOUTS differ in trailing
    * decimals while the verdict decision is stable.
    */
  private def verdictSet(s: ResumableValidator.RunSummary) =
    s.report.verdicts.collect().map { r =>
      if (r.getString(1) == "ntok_drift")
        (r.getString(0), r.getString(1), r.getBoolean(2), "", "")
      else
        (r.getString(0), r.getString(1), r.getBoolean(2),
          r.getString(3), r.getString(4))
    }.toSet

  test("rerun skips all checkpointed partitions and reproduces identical verdicts") {
    val dir = java.nio.file.Files.createTempDirectory("resume").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)

    val first = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(first.skippedSources.isEmpty)
    assert(first.validatedSources.toSet ==
      Set("web", "books", "code", "chat", "ghost"))
    assert(first.totalRows == cfg.rows)

    val second = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(second.validatedSources.isEmpty)
    assert(second.skippedSources.toSet == first.validatedSources.toSet)
    assert(verdictSet(second) == verdictSet(first))
    // violations survive the skip
    assert(second.report.violations.count() == first.report.violations.count())
  }

  test("kill-mid-run: partitions without a manifest are revalidated, others skipped") {
    val dir = java.nio.file.Files.createTempDirectory("resume2").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)

    val first = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    // simulate a crash that lost two partitions' state files, each the
    // partition's manifest (violation writes are idempotent; state files
    // are written last)
    new java.io.File(s"$statePath/sources/web").delete()
    new java.io.File(s"$statePath/sources/chat").delete()

    val resumed = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(resumed.validatedSources.toSet == Set("web", "chat"))
    assert(resumed.skippedSources.toSet == Set("books", "code", "ghost"))
    assert(verdictSet(resumed) == verdictSet(first))
  }

  test("changed input lineage invalidates exactly that partition") {
    val dir = java.nio.file.Files.createTempDirectory("resume3").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    ResumableValidator.run(spark, inPath, dim, suite, statePath)

    // touch one file in the books partition -> fingerprint changes
    val f = new java.io.File(s"$inPath/source=books").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f.setLastModified(f.lastModified() + 60000)

    val resumed = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(resumed.validatedSources == Seq("books"))
    assert(resumed.skippedSources.toSet == Set("web", "code", "chat", "ghost"))
  }

  test("state audit readers: manifest info, current/changed split, orphans") {
    val dir = java.nio.file.Files.createTempDirectory("resume4").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    val first = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    val rows = first.report.sourceStats.collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_rows")).toMap

    // every input partition's state file (its manifest) holds its
    // fingerprint, the run's suite key and its own stats
    val key = SuiteStatsBySourceAgg.suiteKey(suite)
    val inputs = Checkpoint.inputPartitions(spark, inPath)
    inputs.foreach { pl =>
      val (fp, payload) = Checkpoint.readState(spark, statePath, pl.source).get
      val (k, m) = SuiteStatsBySourceAgg.decodeState(payload)
      assert(fp == pl.fingerprint && k == key, pl.source)
      assert(m.keySet == Set(Some(pl.source)) && m.values.head.nRows == rows(pl.source),
        s"${pl.source} n_rows")
    }
    assert(Checkpoint.stateSources(spark, statePath).toSet ==
      inputs.map(_.source).toSet)

    // a touched partition reads CHANGED (fingerprint mismatch), a
    // removed one leaves its state file ORPHANED
    val f = new java.io.File(s"$inPath/source=books").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f.setLastModified(f.lastModified() + 60000)
    val booksNow = Checkpoint.inputPartitions(spark, inPath)
      .find(_.source == "books").get
    assert(!Checkpoint.readState(spark, statePath, "books")
      .exists(_._1 == booksNow.fingerprint))
    assert(Checkpoint.plan(spark, inPath, statePath)._2.map(_.source) == Seq("books"))

    def rmAll(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmAll); p.delete()
    }
    rmAll(new java.io.File(s"$inPath/source=ghost"))
    val live = Checkpoint.inputPartitions(spark, inPath).map(_.source).toSet
    assert(!live("ghost"))
    assert(Checkpoint.stateSources(spark, statePath).contains("ghost"))
  }

  test("a changed suite config revalidates every partition: resumed equals from-scratch") {
    val dir = java.nio.file.Files.createTempDirectory("resume5").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    ResumableValidator.run(spark, inPath, dim, suite, statePath)

    // half the vocabulary: most tokens turn out-of-vocabulary, and fewer
    // histogram bins change the stored buffer's shape
    val changed = suite.copy(vocabSize = suite.vocabSize / 2, tokenHistBins = 32)
    val resumed = ResumableValidator.run(spark, inPath, dim, changed, statePath)
    val scratch = ResumableValidator.run(spark, inPath, dim, changed, s"$dir/scratch")
    assert(resumed.validatedSources.toSet == scratch.validatedSources.toSet)
    assert(resumed.skippedSources.isEmpty)
    def exact(s: ResumableValidator.RunSummary) = s.report.sourceStats
      .select("source", "n_rows", "n_oov_token", "n_ntok_bounds", "hist_token")
      .collect().map(_.toSeq).toSet
    assert(exact(resumed) == exact(scratch))
    assert(resumed.report.sourceStats.agg(sum("n_oov_token")).head().getLong(0) > 0)
    assert(resumed.report.violations.count() == scratch.report.violations.count())
    assert(verdictSet(resumed) == verdictSet(scratch))
  }

  test("a no-op rerun reads its state with no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("resume6").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    ResumableValidator.run(spark, inPath, dim, suite, statePath)
    val sc = spark.sparkContext

    val (noop, noopJobs) = org.apache.spark.ListenerBusDrain.countJobs(sc) {
      ResumableValidator.run(spark, inPath, dim, suite, statePath)
    }
    assert(noop.validatedSources.isEmpty)
    // the same run's work on the input and on the violations (row data),
    // with the stats state left out
    val (_, nonStateJobs) = org.apache.spark.ListenerBusDrain.countJobs(sc) {
      val input = spark.read.parquet(inPath)
      spark.read.parquet(Checkpoint.violationsPath(statePath))
      Validator.dupStats(input, suite)
      dim.collect()
    }
    assert(noopJobs == nonStateJobs, s"no-op rerun: $noopJobs jobs, $nonStateJobs without state")
  }
}
