package graft.constraints

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sequences.SequenceSynth

/** The fused stats fold ([[Validator.observeStats]], run the way
  * production runs it: observed on the violations scan) must equal the
  * composed-builtins stats plan field-for-field: exact for every
  * counter/min/max/histogram; KLL compared on n/min/max (compaction is
  * internally randomized, so byte equality is not meaningful); the HLL
  * estimate within sketch error, since the observe accumulator merges
  * partials in a different order than an aggregation exchange (exact
  * where the merge order is fixed: one input partition, or a corpus as
  * small as the degenerate-rows one).
  */
class SuiteStatsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  val cfg = SequenceSynth.Config(rows = 20000)
  val suite = Validator.SuiteConfig(
    vocabSize = cfg.vocabSize, minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)

  private def bySource(df: org.apache.spark.sql.DataFrame): Map[String, Row] =
    df.collect().map(r => r.getAs[String]("source") -> r).toMap

  /** The production stats path: observed on the violations count. */
  private def observed(df: org.apache.spark.sql.DataFrame): Map[String, Row] = {
    val (o, stats) = Validator.observeStats(df, suite)
    Validator.violations(o, suite).count()
    stats().map(r => r.getAs[String]("source") -> r).toMap
  }

  private def hllEstimate(r: Row): Double =
    org.apache.datasketches.hll.HllSketch
      .heapify(r.getAs[Array[Byte]]("hll_docid")).getEstimate

  test("fused suite stats equal the composed plan on the planted-violation corpus") {
    val df = SequenceSynth.sequences(spark, cfg).cache()
    val fused = observed(df)
    val composed = bySource(Validator.sourceStatsComposed(df, suite))
    assert(fused.keySet == composed.keySet)
    for (s <- fused.keySet) {
      val f = fused(s); val c = composed(s)
      for (fld <- Seq("n_rows", "n_ntok_mismatch", "n_null_token", "n_oov_token",
                      "n_ntok_bounds", "n_null_docid"))
        assert(f.getAs[Long](fld) == c.getAs[Long](fld), s"$s.$fld")
      for (fld <- Seq("min_ntok", "max_ntok", "min_token", "max_token",
                      "min_docid_len", "max_docid_len"))
        assert(f.getAs[Integer](fld) == c.getAs[Integer](fld), s"$s.$fld")
      assert(f.getAs[scala.collection.Seq[Long]]("hist_token").toSeq ==
        c.getAs[scala.collection.Seq[Long]]("hist_token").toSeq, s"$s.hist")
      val fk = graft.stats.KllSketchAgg.fromBytes(f.getAs[Array[Byte]]("kll_ntok"))
      val ck = graft.stats.KllSketchAgg.fromBytes(c.getAs[Array[Byte]]("kll_ntok"))
      assert(fk.getN == ck.getN && fk.getMinItem == ck.getMinItem &&
        fk.getMaxItem == ck.getMaxItem, s"$s.kll")
      // HLL bytes are representation-compatible with the union path;
      // different merge trees agree within lgK=12 error (~1.6% RSE)
      val fe = hllEstimate(f); val ce = hllEstimate(c)
      assert(math.abs(fe - ce) <= 0.05 * ce, s"$s.hll: $fe vs $ce")
      val fa = f.getAs[Long]("approx_distinct_docid").toDouble
      val ca = c.getAs[Long]("approx_distinct_docid").toDouble
      assert(math.abs(fa - ca) <= 0.05 * ca, s"$s.approx: $fa vs $ca")
    }
  }

  test("HLL estimates are exact when the merge order is fixed (one input partition)") {
    val df = SequenceSynth.sequences(spark, cfg).coalesce(1).cache()
    val fused = observed(df)
    val composed = bySource(Validator.sourceStatsComposed(df, suite))
    for (s <- fused.keySet) {
      assert(fused(s).getAs[Long]("approx_distinct_docid") ==
        composed(s).getAs[Long]("approx_distinct_docid"), s"$s.approx")
      assert(hllEstimate(fused(s)) == hllEstimate(composed(s)), s"$s.hll")
    }
  }

  test("fused stats are partition-layout invariant (serialize/merge monoid)") {
    val df = SequenceSynth.sequences(spark, SequenceSynth.Config(rows = 5000)).cache()
    val one = observed(df.coalesce(1))
    val many = observed(df.repartition(13))
    assert(one.keySet == many.keySet)
    for (s <- one.keySet) {
      for (fld <- SuiteStatsAgg.schema.fieldNames
             if fld != "hll_docid" && fld != "kll_ntok" && fld != "hist_token"
               && fld != "approx_distinct_docid")
        assert(Option(one(s).getAs[Any](fld)) == Option(many(s).getAs[Any](fld)), s"$s.$fld")
      assert(one(s).getAs[scala.collection.Seq[Long]]("hist_token").toSeq ==
        many(s).getAs[scala.collection.Seq[Long]]("hist_token").toSeq, s"$s.hist")
      // sketch estimates: different merge trees, same data -> within 2%
      val a = one(s).getAs[Long]("approx_distinct_docid").toDouble
      val b = many(s).getAs[Long]("approx_distinct_docid").toDouble
      assert(math.abs(a - b) <= 0.02 * math.max(a, 1.0), s"$s.approx: $a vs $b")
    }
  }

  test("mask-based violations equal the composed violation rows exactly") {
    val df = SequenceSynth.sequences(spark, cfg).cache()
    val fast = Validator.violations(df, suite)
    val slow = Validator.violationsComposed(df, suite)
    assert(fast.count() == slow.count())
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("fuzz: fused stats + mask violations equal the composed plans on a random null-riddled corpus") {
    import spark.implicits._
    // seeded pseudo-random corpus mixing every null/length/oov pattern
    val rnd = new scala.util.Random(20260816L)
    val rows: Seq[(String, Seq[Integer], Integer, String)] = (0 until 3000).map { i =>
      val docId = if (rnd.nextInt(50) == 0) null
                  else rnd.alphanumeric.take(1 + rnd.nextInt(20)).mkString
      val len = rnd.nextInt(30)
      val tokens: Seq[Integer] =
        if (rnd.nextInt(40) == 0) null
        else (0 until len).map { _ =>
          rnd.nextInt(20) match {
            case 0 => null: Integer
            case 1 => Int.box(-rnd.nextInt(100))
            case 2 => Int.box(suite.vocabSize + rnd.nextInt(100))
            case _ => Int.box(rnd.nextInt(suite.vocabSize))
          }
        }
      val nTok: Integer =
        if (rnd.nextInt(30) == 0) null
        else if (rnd.nextInt(4) == 0) Int.box(rnd.nextInt(600))
        else Int.box(len)
      (docId, tokens, nTok, s"src${rnd.nextInt(4)}")
    }
    val df = rows.toDF("doc_id", "tokens", "n_tok", "source")
      .selectExpr("doc_id", "cast(tokens as array<int>) as tokens",
        "cast(n_tok as int) as n_tok", "source")
      .repartition(7).cache()
    val fused = observed(df)
    val composed = bySource(Validator.sourceStatsComposed(df, suite))
    assert(fused.keySet == composed.keySet)
    for (s <- fused.keySet; fld <- SuiteStatsAgg.schema.fieldNames
           if fld != "hll_docid" && fld != "kll_ntok" && fld != "hist_token"
             && fld != "approx_distinct_docid")
      assert(Option(fused(s).getAs[Any](fld)) == Option(composed(s).getAs[Any](fld)),
        s"$s.$fld")
    // seven input partitions: the observe and exchange merge trees differ
    for (s <- fused.keySet) {
      val f = fused(s).getAs[Long]("approx_distinct_docid").toDouble
      val c = composed(s).getAs[Long]("approx_distinct_docid").toDouble
      assert(math.abs(f - c) <= 0.05 * c, s"$s.approx: $f vs $c")
    }
    for (s <- fused.keySet)
      assert(fused(s).getAs[scala.collection.Seq[Long]]("hist_token").toSeq ==
        composed(s).getAs[scala.collection.Seq[Long]]("hist_token").toSeq, s"$s.hist")
    val fv = Validator.violations(df, suite)
    val cv = Validator.violationsComposed(df, suite)
    assert(fv.exceptAll(cv).isEmpty && cv.exceptAll(fv).isEmpty)
  }

  test("fused stats handle degenerate rows like the composed plan (nulls everywhere)") {
    import spark.implicits._
    val weird = Seq[(String, Seq[Integer], Integer, String)](
      (null, Seq[Integer](1, 2, 3), 3, "w"),            // null doc_id
      ("a", null, 5, "w"),                              // null tokens
      ("bb", Seq[Integer](null, 4), null, "w"),         // null n_tok + null element
      ("ccc", Seq.empty[Integer], 0, "w"),              // empty tokens
      ("dddd", Seq[Integer](-3, 999999999), 2, "w"),    // oov both ends
      (null, null, null, "x")                           // all null
    ).toDF("doc_id", "tokens", "n_tok", "source")
      .selectExpr("doc_id", "cast(tokens as array<int>) as tokens",
        "cast(n_tok as int) as n_tok", "source")
    val fused = observed(weird)
    val composed = bySource(Validator.sourceStatsComposed(weird, suite))
    assert(fused.keySet == composed.keySet)
    for (s <- fused.keySet; fld <- SuiteStatsAgg.schema.fieldNames
           if fld != "hll_docid" && fld != "kll_ntok") {
      assert(Option(fused(s).getAs[Any](fld)) == Option(composed(s).getAs[Any](fld)),
        s"$s.$fld: ${fused(s)} vs ${composed(s)}")
    }
    val fastViol = Validator.violations(weird, suite)
    val slowViol = Validator.violationsComposed(weird, suite)
    assert(fastViol.exceptAll(slowViol).isEmpty && slowViol.exceptAll(fastViol).isEmpty)
  }
}
