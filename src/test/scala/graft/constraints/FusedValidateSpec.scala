package graft.constraints

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sequences.SequenceSynth

/** Pins the ONE-SCAN validation path ([[Validator.validateOneScan]]:
  * observe-fused stats + count-only hash-pair uniqueness) semantically
  * identical to the composed reference forms
  * ([[Validator.sourceStatsComposed]], [[Validator.violationsComposed]]).
  * Sketch BYTES are exempt (KLL compaction is randomized and merge order
  * differs between an exchange and an observe accumulator — assert
  * verdict decisions, never sketch readouts); everything
  * exact — counters, min/max, histograms, verdict decisions, violation
  * rows, duplicate keys — must match bit-for-bit.
  */
class FusedValidateSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  val cfg = SequenceSynth.Config(rows = 20000)
  val suite = Validator.SuiteConfig(
    vocabSize = cfg.vocabSize, minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)
  lazy val df = SequenceSynth.sequences(spark, cfg).cache()
  lazy val dim = SequenceSynth.sourcesDim(spark, cfg)

  // the reference report: composed stats + composed violation rows
  lazy val classic = {
    val stats = Validator.sourceStatsComposed(df, suite).collect()
    Validator.ValidationReport(
      Validator.buildVerdicts(spark, stats, dim.collect(),
        Validator.dupStats(df, suite), suite),
      Validator.violationsComposed(df, suite),
      Validator.statsToDf(spark, stats))
  }
  lazy val fused = Validator.validateOneScan(spark, df, dim, suite)

  // approx_distinct_docid is exempt with the sketch bytes: the datasketches
  // HLL Union estimate is merge-ORDER-sensitive (coupon/mode transitions),
  // and an observe accumulator merges partials in a different order than an
  // aggregation exchange — both estimates carry the same ~1.6% lgK=12 error
  // (asserted separately below)
  private val exactFields = Seq(
    "n_rows", "n_ntok_mismatch", "n_null_token", "n_oov_token",
    "n_ntok_bounds", "n_null_docid", "min_ntok", "max_ntok", "min_token",
    "max_token", "min_docid_len", "max_docid_len",
    "hist_token")

  private def statKey(r: Row): (String, Seq[Any]) =
    r.getAs[String]("source") -> exactFields.map {
      case "hist_token" => r.getAs[scala.collection.Seq[Long]]("hist_token").toList
      case f            => r.get(r.fieldIndex(f))
    }

  test("fused stats match the groupBy stats on every exact field") {
    val c = classic.sourceStats.collect().map(statKey).sortBy(_._1)
    val f = fused.sourceStats.collect().map(statKey).sortBy(_._1)
    assert(f.toSeq == c.toSeq)
  }

  test("fused approx-distinct stays inside HLL error of the true count") {
    val truth = df.groupBy("source").agg(countDistinct("doc_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fused.sourceStats.collect().foreach { r =>
      val s = r.getAs[String]("source")
      val est = r.getAs[Long]("approx_distinct_docid").toDouble
      assert(math.abs(est - truth(s)) / truth(s) < 0.05,
        s"$s: est=$est true=${truth(s)}")
    }
  }

  test("fused verdict decisions match the classic report exactly") {
    def decisions(rep: Validator.ValidationReport) =
      rep.verdicts.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2))
        .sortBy(_._1).toSeq
    assert(decisions(fused) == decisions(classic))
  }

  test("fused violation rows are the same rows") {
    val c = classic.violations.collect().map(_.toString).sorted
    val f = fused.violations.collect().map(_.toString).sorted
    assert(f.toSeq == c.toSeq)
  }

  test("hash-pair dupStats == direct groupBy over the non-NULL keys") {
    val withNulls = df.unionByName(
      df.limit(3).withColumn("doc_id", lit(null.asInstanceOf[String])))
    val direct = withNulls.filter(col("doc_id").isNotNull)
      .groupBy("doc_id").count().filter(col("count") > 1)
      .agg(count(lit(1)), sum(col("count") - 1)).collect()(0)
    assert(direct.getLong(0) > 0)
    assert(Validator.dupStats(withNulls, suite) ==
      Some((direct.getLong(0), direct.getLong(1))))
  }

  test("violationsOut writes the violation rows as part of the one scan") {
    val out = java.nio.file.Files.createTempDirectory("fused-viols").toString + "/v"
    val rep = Validator.validateOneScan(spark, df, dim, suite, Some(out))
    assert(spark.read.parquet(out).count() == classic.violations.count())
    // stats were still observed on that same writing scan
    assert(rep.sourceStats.collect().map(statKey).sortBy(_._1).toSeq ==
      classic.sourceStats.collect().map(statKey).sortBy(_._1).toSeq)
  }

  test("the fused plan carries the stats as CollectMetrics on the violations scan") {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      SuiteStatsBySourceAgg.suite_stats_by_source(
        col("source"), col("doc_id"), col("tokens"), col("n_tok"), suite)
        .as("stats"))
    val plan = Validator.violations(observed, suite)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("CollectMetrics"), plan)
  }
}
