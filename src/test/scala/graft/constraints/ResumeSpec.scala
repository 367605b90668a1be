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
    // simulate a crash that lost two partitions' manifests (data writes are
    // idempotent; manifests are written last)
    new java.io.File(s"$statePath/manifests/web.json").delete()
    new java.io.File(s"$statePath/manifests/chat.json").delete()

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
    ResumableValidator.run(spark, inPath, dim, suite, statePath)

    // every input partition's manifest parses with its row count
    val inputs = Checkpoint.inputPartitions(spark, inPath)
    inputs.foreach { pl =>
      val info = Checkpoint.readManifest(spark, statePath, pl.source)
      assert(info.exists(_._1.contains(pl.fingerprint)), pl.source)
      assert(info.exists(_._2.exists(_ > 0L)), s"${pl.source} n_rows")
    }
    assert(Checkpoint.manifestSources(spark, statePath).toSet ==
      inputs.map(_.source).toSet)

    // a touched partition reads CHANGED (fingerprint mismatch), a
    // removed one leaves its manifest ORPHANED
    val f = new java.io.File(s"$inPath/source=books").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f.setLastModified(f.lastModified() + 60000)
    val booksNow = Checkpoint.inputPartitions(spark, inPath)
      .find(_.source == "books").get
    assert(!Checkpoint.readManifest(spark, statePath, "books")
      .exists(_._1.contains(booksNow.fingerprint)))
    // audit leniency == rerun planner: a garbled n_rows must not demote
    // a fingerprint-current manifest to NEW (plan() matches on the
    // fingerprint alone)
    val webFp = Checkpoint.readManifest(spark, statePath, "web").flatMap(_._1).get
    val mp = new java.io.File(s"$statePath/manifests/web.json")
    java.nio.file.Files.writeString(mp.toPath,
      s"""{"source": "web", "fingerprint": "$webFp", "n_rows": garbled}""")
    // the raw edit invalidates Hadoop LocalFileSystem's checksum sidecar
    new java.io.File(s"$statePath/manifests/.web.json.crc").delete()
    val webInfo = Checkpoint.readManifest(spark, statePath, "web")
    assert(webInfo.exists(i => i._1.contains(webFp) && i._2.isEmpty))

    def rmAll(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmAll); p.delete()
    }
    rmAll(new java.io.File(s"$inPath/source=ghost"))
    val live = Checkpoint.inputPartitions(spark, inPath).map(_.source).toSet
    assert(!live("ghost"))
    assert(Checkpoint.manifestSources(spark, statePath).contains("ghost"))
  }
}
