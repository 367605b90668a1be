package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.constraints.Validator
import graft.sequences.SequenceSynth

/** The streaming validation twin must converge to the batch suite's
  * answers: after consuming the whole corpus file-by-file, cumulative
  * stats/verdicts equal a one-shot batch validation of the full input
  * (exact for counts/min-max; decision-equal for sketch-backed checks).
  */
class StreamingValidatorSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  val cfg = SequenceSynth.Config(rows = 20000)
  val suite = Validator.SuiteConfig(
    vocabSize = cfg.vocabSize, minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)
  lazy val full = SequenceSynth.sequences(spark, cfg).cache()
  lazy val dim = SequenceSynth.sourcesDim(spark, cfg)

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete(); d.getAbsolutePath
  }

  test("incremental file arrival converges to the batch verdicts and stats") {
    val inputDir = tmp("stream-in")
    val stateDir = tmp("stream-state")
    val halfA = full.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
    val halfB = full.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 1)

    // wave 1
    halfA.write.mode("append").parquet(inputDir)
    val q1 = StreamingValidator.start(spark, inputDir, stateDir, dim, suite)
    q1.awaitTermination()
    val (b1, stats1) = StreamingValidator.readStats(spark, stateDir).get
    val batchA = Validator.validateOneScan(spark, halfA, dim, suite).sourceStats.collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    stats1.foreach { r =>
      val exp = batchA(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_rows") == exp.getAs[Long]("n_rows"))
    }

    // wave 2: new files only
    halfB.write.mode("append").parquet(inputDir)
    val q2 = StreamingValidator.start(spark, inputDir, stateDir, dim, suite)
    q2.awaitTermination()
    val (b2, stats2) = StreamingValidator.readStats(spark, stateDir).get
    assert(b2 > b1)

    // cumulative stats equal a one-shot batch pass over the full corpus
    val batchReport = Validator.validateOneScan(spark, full, dim, suite)
    val batchFull = batchReport.sourceStats.collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(stats2.length == batchFull.size)
    stats2.foreach { r =>
      val exp = batchFull(r.getAs[String]("source"))
      for (f <- Seq("n_rows", "n_ntok_mismatch", "n_null_token", "n_oov_token",
                    "n_ntok_bounds", "n_null_docid"))
        assert(r.getAs[Long](f) == exp.getAs[Long](f), s"$f of ${r.getAs[String]("source")}")
      for (f <- Seq("min_ntok", "max_ntok", "min_token", "max_token",
                    "min_docid_len", "max_docid_len"))
        assert(r.getAs[Integer](f) == exp.getAs[Integer](f), s"$f of ${r.getAs[String]("source")}")
      // merged HLL estimate within 5% of the batch estimate
      val est = r.getAs[Long]("approx_distinct_docid").toDouble
      val expEst = exp.getAs[Long]("approx_distinct_docid").toDouble
      assert(math.abs(est - expEst) <= 0.05 * expEst, s"hll of ${r.getAs[String]("source")}")
    }

    // verdict DECISIONS match the batch suite (checks they share)
    val streamVerdicts = spark.read.parquet(StreamingValidator.verdictsPath(stateDir))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    val batchVerdicts = batchReport.verdicts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    batchVerdicts.foreach { case (key @ (_, check), pass) =>
      if (check != "uniqueness") // stream reports uniqueness_approx instead
        assert(streamVerdicts(key) == pass, s"verdict $key")
    }
    // planted duplicates are ~0.5% of rows — inside HLL tolerance, so the
    // approx check passes where exact fails; it exists and is boolean
    assert(streamVerdicts.contains(("*", "uniqueness_approx")))

    // violations across batch partitions equal the batch pass exactly
    val streamViol = spark.read.parquet(StreamingValidator.violationsPath(stateDir))
    val batchViol = Validator.violations(full, suite)
    assert(streamViol.count() == batchViol.count())
    assert(streamViol.select(explode(col("checks"))).groupBy("col").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      batchViol.select(explode(col("checks"))).groupBy("col").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("replayed batch ids are not merged twice (exactly-once stats)") {
    val stateDir = tmp("stream-replay")
    val dimRows = dim.collect()
    val half = full.limit(5000)
    StreamingValidator.processBatch(spark, half, 0L, stateDir, dimRows, suite)
    // the stats generation is one file read on the driver: no Spark job
    val (read, readJobs) = org.apache.spark.ListenerBusDrain.countJobs(spark.sparkContext) {
      StreamingValidator.readStats(spark, stateDir)
    }
    assert(readJobs == 0, s"readStats launched $readJobs Spark jobs")
    val (_, once) = read.get
    // replay the same batch id: state must not change
    StreamingValidator.processBatch(spark, half, 0L, stateDir, dimRows, suite)
    val (bid, twice) = StreamingValidator.readStats(spark, stateDir).get
    assert(bid == 0L)
    assert(twice.map(_.getAs[Long]("n_rows")).sum == once.map(_.getAs[Long]("n_rows")).sum)
    // a NEW batch id does merge
    StreamingValidator.processBatch(spark, half, 1L, stateDir, dimRows, suite)
    val (_, merged) = StreamingValidator.readStats(spark, stateDir).get
    assert(merged.map(_.getAs[Long]("n_rows")).sum ==
      2 * once.map(_.getAs[Long]("n_rows")).sum)

    // generation GC keeps current + previous COMMITTED (a reader that
    // resolved the live generation just before a commit can still read
    // it), evicts older
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens() = fs.listStatus(new org.apache.hadoop.fs.Path(
        StreamingValidator.statsPath(stateDir)))
      .map(_.getPath.getName).filter(_.startsWith("gen-")).sorted
    assert(gens().toSeq == Seq("gen-0", "gen-1"), gens().mkString(","))
    StreamingValidator.processBatch(spark, half, 2L, stateDir, dimRows, suite)
    assert(gens().toSeq == Seq("gen-1", "gen-2"), gens().mkString(","))

    // a replay after a lost verdicts write repairs it from stored stats
    fs.delete(new org.apache.hadoop.fs.Path(
      StreamingValidator.verdictsPath(stateDir)), true)
    StreamingValidator.processBatch(spark, half, 1L, stateDir, dimRows, suite)
    assert(spark.read.parquet(StreamingValidator.verdictsPath(stateDir)).count() > 0)

    // stats of another suite config cannot be merged into (nor recomputed)
    intercept[IllegalArgumentException] {
      StreamingValidator.processBatch(spark, half, 3L, stateDir, dimRows,
        suite.copy(tokenHistBins = 32))
    }
    assert(StreamingValidator.readStats(spark, stateDir).map(_._1).contains(2L))
  }

  test("stats merge is the one-pass monoid: a NULL-only first batch merges like one scan") {
    val web = full.filter(col("source") === "web")
    // every n_tok and tokens value NULL: the batch's min/max are NULL
    val nullBatch = web.filter(pmod(xxhash64(col("doc_id")), lit(4)) === 0)
      .withColumn("doc_id", concat(col("doc_id"), lit("-n")))
      .withColumn("n_tok", lit(null).cast("int"))
      .withColumn("tokens", lit(null).cast(web.schema("tokens").dataType))
    def stats(df: org.apache.spark.sql.DataFrame) = {
      val (observed, thunk) = Validator.observeStats(df, suite)
      observed.count()
      thunk().map(r => r.getAs[String]("source") -> r).toMap
    }
    val nullOnly = stats(nullBatch)("web")
    assert(nullOnly.isNullAt(nullOnly.fieldIndex("min_ntok")) &&
      nullOnly.isNullAt(nullOnly.fieldIndex("max_token")))
    val merged = StreamingValidator.mergeStatsRows(
      Array(nullOnly), stats(web).values.toArray, suite.kllK)
    val onePass = stats(nullBatch.unionByName(web))("web")
    assert(merged.length == 1)
    val m = merged(0)
    for (f <- Seq("n_rows", "n_ntok_mismatch", "n_null_token", "n_oov_token",
                  "n_ntok_bounds", "n_null_docid", "min_ntok", "max_ntok", "min_token", "max_token",
                  "min_docid_len", "max_docid_len"))
      assert(m.getAs[Any](f) == onePass.getAs[Any](f), f)
    assert(m.getAs[scala.collection.Seq[Long]]("hist_token") ==
      onePass.getAs[scala.collection.Seq[Long]]("hist_token"))
    // the merged sketches are the aggregate's own types and counts (the
    // HLL estimate depends on the merge order, so it is held to 5%)
    val est = m.getAs[Long]("approx_distinct_docid").toDouble
    assert(math.abs(est - onePass.getAs[Long]("approx_distinct_docid")) <= 0.05 * est)
    val hll = org.apache.datasketches.hll.HllSketch.heapify(m.getAs[Array[Byte]]("hll_docid"))
    assert(hll.getTgtHllType == org.apache.datasketches.hll.TgtHllType.HLL_8)
    assert(graft.stats.KllSketchAgg.fromBytes(m.getAs[Array[Byte]]("kll_ntok")).getN ==
      graft.stats.KllSketchAgg.fromBytes(onePass.getAs[Array[Byte]]("kll_ntok")).getN)
  }

  test("legacy CURRENT-pointer stats state is rejected loudly, not read as empty") {
    val stateDir = tmp("stream-legacy")
    val stats = StreamingValidator.statsPath(stateDir)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pre-round-5 layout: a CURRENT pointer file next to a markerless gen
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$stats/gen-7"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$stats/CURRENT"), true)
    out.write("gen-7".getBytes("UTF-8")); out.close()
    // silent None here would reset the drift baseline and let pruneGens
    // delete gen-7 as an uncommitted orphan — must fail instead
    val e = intercept[RuntimeException] {
      StreamingValidator.readStats(spark, stateDir)
    }
    assert(e.getMessage.contains("CURRENT"), e.getMessage)
    // migration path from the message: commit the pointed-at gen with the
    // marker, delete CURRENT -> the guard lifts (stats content is
    // exercised by the other tests)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stats/CURRENT"), false)
    assert(StreamingValidator.readStats(spark, stateDir).isEmpty)

    // the parquet generation layout: a committed gen holding a parquet
    // stats table with `last_batch_id`, no `stats` file. Its stats cannot
    // be recomputed (the source checkpoint consumed their files), so both
    // the reader and the next batch must refuse it
    val gen = s"$stats/gen-8"
    import spark.implicits._
    Seq(("web", 10L, 8L)).toDF("source", "n_rows", "last_batch_id").write.parquet(gen)
    fs.create(new org.apache.hadoop.fs.Path(gen, graft.lineage.Commit.Marker), true).close()
    val e2 = intercept[RuntimeException] {
      StreamingValidator.readStats(spark, stateDir)
    }
    assert(e2.getMessage.contains("gen-8") && e2.getMessage.contains("parquet"), e2.getMessage)
    intercept[RuntimeException] {
      StreamingValidator.processBatch(spark, full.limit(100), 9L, stateDir, dim.collect(), suite)
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(gen)), "the old generation must survive")
  }
}
