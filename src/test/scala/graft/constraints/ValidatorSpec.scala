package graft.constraints

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sequences.SequenceSynth

class ValidatorSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  val cfg = SequenceSynth.Config(rows = 20000)
  val suite = Validator.SuiteConfig(
    vocabSize = cfg.vocabSize, minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)
  lazy val df = SequenceSynth.sequences(spark, cfg).cache()
  lazy val dim = SequenceSynth.sourcesDim(spark, cfg)
  lazy val report = Validator.validateOneScan(spark, df, dim, suite)
  lazy val verdicts = report.verdicts.collect()
    .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
  lazy val expected = SequenceSynth.expectedViolationCounts(cfg)

  test("violation rows carry identity + every failed check, with exact totals") {
    val byCheck = report.violations
      .select(explode(col("checks")).as("check"))
      .groupBy("check").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCheck("ntok_mismatch") == expected("ntok_mismatch"))
    assert(byCheck("null_token") == expected("null_token"))
    assert(byCheck("oov_token") == expected("oov_token"))
    assert(!byCheck.contains("ntok_bounds"))
  }

  test("token-ID distribution drift fires on a shifted-vocabulary source only") {
    import spark.implicits._
    // synth tokens are uniform over the vocab for every source -> no drift
    assert(verdicts(("chat", "token_drift")))
    assert(verdicts(("web", "token_drift")))
    // a source whose tokens concentrate at the top of the vocab drifts
    val shifted = (0 until 1000).map { i =>
      (f"drift$i%05d", Seq.fill(40)(cfg.vocabSize - 1 - (i % 100)), 40, "driftsrc")
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val rep = Validator.validateOneScan(spark, df.unionByName(shifted), dim, suite)
    val v = rep.verdicts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(!v(("driftsrc", "token_drift")))
    assert(v(("web", "token_drift")))
    assert(v(("books", "token_drift")))
  }

  test("completeness: a dim source with no data fails; populated sources pass") {
    // present sources pass on the default report
    assert(verdicts(("web", "completeness")))
    assert(verdicts(("chat", "completeness")))
    // drop one source's data entirely -> its dim row fails completeness
    val rep = Validator.validateOneScan(spark, df.filter(col("source") =!= "books"), dim, suite)
    val v = rep.verdicts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(!v(("books", "completeness")))
    assert(v(("web", "completeness")))
  }

  test("hot-source skew: verdicts are layout-invariant") {
    val hotCfg = SequenceSynth.Config(rows = 20000,
      sourceWeights = Seq("web" -> 0.94, "books" -> 0.02, "code" -> 0.02, "chat" -> 0.02))
    val hot = SequenceSynth.sequences(spark, hotCfg)
      // pathological layout: everything hashed on source -> one fat partition
      .repartition(16, col("source"))
      .cache()
    val even = hot.repartition(16).cache()
    def partSizes(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.groupBy(spark_partition_id()).count().collect().map(_.getLong(1)).toSeq
    val before = partSizes(hot)
    val after = partSizes(even)
    assert(before.max >= 0.9 * 20000, s"hot layout not skewed: $before")
    assert(after.max <= 3000, s"round-robin layout left a straggler: $after")
    // results are layout-invariant
    val hotDim = SequenceSynth.sourcesDim(spark, hotCfg)
    val hotSuite = Validator.SuiteConfig(vocabSize = hotCfg.vocabSize,
      minNtok = hotCfg.minNtok, maxNtok = hotCfg.maxNtok + 1)
    val a = Validator.validateOneScan(spark, hot, hotDim, hotSuite).verdicts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    val b = Validator.validateOneScan(spark, even, hotDim, hotSuite).verdicts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(a == b)
  }

  test("dim-table declared bounds: oov-planted source fails, spec-less dims skip") {
    // the dim carries (expected_min_ntok, expected_max_ntok, vocab_size);
    // web has planted oov tokens -> its dim_bounds verdict fails
    assert(!verdicts(("web", "dim_bounds")))
    // a dim WITHOUT the spec columns produces no dim_bounds verdicts
    import spark.implicits._
    val bareDim = Seq("web", "books", "code", "chat").toDF("source")
    val rep = Validator.validateOneScan(spark, df, bareDim, suite)
    assert(!rep.verdicts.collect().exists(_.getString(1) == "dim_bounds"))
    // a NULL spec VALUE skips that source's check (must not unbox to 0
    // and fail everything); sources with full specs are still checked
    val nullSpecDim = dim.withColumn("vocab_size",
      when(col("source") === "books", lit(null).cast("int"))
        .otherwise(col("vocab_size")))
    val rep2 = Validator.validateOneScan(spark, df, nullSpecDim, suite)
    val db = rep2.verdicts.collect()
      .filter(_.getString(1) == "dim_bounds").map(_.getString(0)).toSet
    assert(!db.contains("books") && db.contains("web"), db.toString)
  }

  test("suggested DDL is the narrowest column fitting the observed stats") {
    val stats = report.sourceStats.collect()
    val ddl = Validator.suggestDdl(stats)
      .map { case (s, c, _, d) => (s, c) -> d }.toMap
    // doc_id is a fixed-width hex-ish string -> varchar(maxLen)
    val maxLen = stats.map(_.getAs[Integer]("max_docid_len").toInt).max
    assert(ddl(("web", "doc_id")) == s"varchar($maxLen)")
    // n_tok fits an int everywhere
    assert(ddl(("web", "n_tok")) == "int")
    assert(ddl(("web", "tokens_element")) == "int")
  }

  test("per-source verdicts fail exactly where violations were planted") {
    // ghost partition fails referential; real sources pass
    assert(!verdicts(("ghost", "referential")))
    assert(verdicts(("web", "referential")))
    // drift planted on chat only
    assert(!verdicts(("chat", "ntok_drift")))
    assert(verdicts(("web", "ntok_drift")))
    assert(verdicts(("books", "ntok_drift")))
    // uniqueness is a global verdict
    assert(!verdicts(("*", "uniqueness")))
    // oov tokens break the vocab_fit declared-bounds check on big sources
    assert(!verdicts(("web", "vocab_fit")))
  }

  test("exact global duplicate detection matches planted ground truth") {
    // n keys duplicated with n extra rows: every duplicate key occurs twice
    val planted = expected("uniqueness")
    assert(Validator.dupStats(df, suite) == Some((planted, planted)))
  }

  test("embedded uniqueness: NULL doc_ids fail null_docid, never count as a duplicate key") {
    val withNulls = df.unionByName(df.filter(col("source") === "books").limit(3)
      .withColumn("doc_id", lit(null).cast("string")))
    val v = Validator.validateOneScan(spark, withNulls, dim, suite).verdicts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getBoolean(2), r.getString(3)))
      .toMap
    val planted = expected("uniqueness")
    assert(v(("*", "uniqueness"))._2 ==
      s"$planted duplicated doc_ids ($planted extra rows)")
    assert(!v(("books", "null_docid"))._1, v(("books", "null_docid"))._2)
    assert(v(("books", "null_docid"))._2.startsWith("3/"))
    assert(v(("web", "null_docid"))._1)
  }

  test("declared-fit (wider?) verdicts: defaults pass, tight DDL fails") {
    assert(verdicts(("web", "declared_fit_doc_id")))
    assert(verdicts(("web", "declared_fit_n_tok")))
    assert(verdicts(("web", "declared_fit_tokens_element")))
    // doc ids are 17 chars; one 40-char id in "web" overflows the
    // declared varchar(32)
    import spark.implicits._
    val longId = Seq(("x" * 40, Seq(1, 2, 3), 3, "web"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val rep = Validator.validateOneScan(spark, df.unionByName(longId), dim, suite)
    val vs = rep.verdicts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(!vs(("web", "declared_fit_doc_id")))
    assert(vs(("web", "declared_fit_n_tok")))
    assert(vs(("chat", "declared_fit_doc_id")))
  }

  test("a clean table passes every constraint") {
    val clean = SequenceSynth.Config(rows = 5000, dupEvery = 0, orphanEvery = 0,
      ntokMismatchEvery = 0, oovEvery = 0, nullTokEvery = 0, driftSource = None)
    val rep = Validator.validateOneScan(spark,
      SequenceSynth.sequences(spark, clean),
      SequenceSynth.sourcesDim(spark, clean),
      Validator.SuiteConfig(vocabSize = clean.vocabSize,
        minNtok = clean.minNtok, maxNtok = clean.maxNtok + 1))
    val vs = rep.verdicts.collect()
    assert(vs.nonEmpty && vs.forall(_.getBoolean(2)),
      vs.filterNot(_.getBoolean(2)).mkString("; "))
    assert(rep.violations.isEmpty)
  }
}
