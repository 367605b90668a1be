package graft.constraints

import org.apache.spark.graftbridge.JobLog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sequences.SequenceSynth

/** Pins the ONE-SCAN validation path ([[Validator.validateOneScan]]:
  * observe-fused stats under the count-only hash-pair uniqueness exchange,
  * one action), its plan and its job count, and keeps it semantically
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

  /** Uniqueness by a direct groupBy over the non-NULL keys. */
  private def directDups(d: DataFrame): Option[(Long, Long)] = {
    val r = d.filter(col("doc_id").isNotNull)
      .groupBy("doc_id").count().filter(col("count") > 1)
      .agg(count(lit(1)), coalesce(sum(col("count") - 1), lit(0L))).collect()(0)
    Some((r.getLong(0), r.getLong(1)))
  }

  /** The reference report: composed stats + direct uniqueness + composed
    * violation rows.
    */
  private def reference(d: DataFrame) = {
    val stats = Validator.sourceStatsComposed(d, suite).collect()
    Validator.ValidationReport(
      Validator.buildVerdicts(spark, stats, dim.collect(), directDups(d), suite),
      Validator.violationsComposed(d, suite),
      Validator.statsToDf(spark, stats))
  }
  lazy val classic = reference(df)
  lazy val fused = Validator.validateOneScan(spark, df, dim, suite)

  /** `df` as a parquet table, so a pass over it plans a file scan. */
  private def parquetTable(d: DataFrame, name: String): String = {
    val path = s"${SharedSpark.tempDir(name)}/t"
    d.write.parquet(path)
    path
  }
  private lazy val table = parquetTable(df, "fused-table")

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
    val direct = directDups(withNulls)
    assert(direct.exists(_._1 > 0))
    assert(Validator.dupStats(withNulls, suite) == direct)
  }

  /** The executed plans of the queries `body` runs (the listener events
    * are delivered by the time [[JobLog.record]] returns), and its jobs.
    */
  private def executed[T](body: => T): (Seq[SparkPlan], Seq[JobLog.Job]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (_, jobs) = JobLog.record(spark.sparkContext)(body)
      (plans.toArray(Array.empty[SparkPlan]).toSeq, jobs)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of an executed plan, through adaptive plans and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  private def isStats(m: CollectMetricsExec) = m.metricExpressions.exists(_.name == "stats")

  test("one action per pass: one table scan, the stats CollectMetrics under the one uniqueness exchange") {
    val read = spark.read.parquet(table)
    val (plans, _) = executed(Validator.validateOneScan(spark, read, dim, suite))
    val all = plans.flatMap(nodes)
    val scans = all.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"one scan of the table per pass:\n${plans.mkString("\n")}")
    val exchanges = all.collect { case e: Exchange => e }
    assert(exchanges.size == 1, s"one exchange per pass:\n${plans.mkString("\n")}")
    val under = nodes(exchanges.head)
    assert(under.exists { case m: CollectMetricsExec => isStats(m); case _ => false },
      s"the stats must ride the exchange's map side:\n${exchanges.head}")
    assert(under.contains(scans.head), "the exchange reads the one scan")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.dataType == StringType),
        s"an exchange carries a string column: ${e.output.mkString(",")}")
    }
    // the totals are the second observation, above the exchange
    val metrics = all.collect { case m: CollectMetricsExec => m }
    assert(metrics.size == 2 && metrics.count(isStats) == 1, metrics.mkString("\n"))
  }

  test("validateOneScan over a parquet table launches at most 2 jobs beyond the read") {
    val sc = spark.sparkContext
    val (read, readJobs) = JobLog.record(sc)(spark.read.parquet(table))
    val (rep, jobs) = JobLog.record(sc)(Validator.validateOneScan(spark, read, dim, suite))
    assert(jobs.size <= 2, s"${jobs.size} jobs beyond the read's ${readJobs.size}: $jobs")
    assert(rep.sourceStats.count() == 5)
  }

  /** Same stats rows (every exact field) and verdicts (drift readouts
    * aside) as the composed reference.
    */
  private def assertLikeReference(d: DataFrame): Unit = {
    val (f, c) = (Validator.validateOneScan(spark, d, dim, suite), reference(d))
    def stats(r: Validator.ValidationReport) =
      r.sourceStats.collect().map(statKey).sortBy(_._1).toSeq
    def verdicts(r: Validator.ValidationReport) = r.verdicts.collect().map { v =>
      (v.getString(0), v.getString(1), v.getBoolean(2),
        if (v.getString(1) == "ntok_drift") "" else v.getString(3))
    }.sortBy(v => (v._1, v._2)).toSeq
    assert(stats(f) == stats(c))
    assert(verdicts(f) == verdicts(c))
  }

  test("edge tables validate like the reference: empty, all-NULL doc_id, a few NULL ids") {
    val nullId = lit(null.asInstanceOf[String])
    val empty = spark.read.parquet(parquetTable(df.limit(0), "fused-empty"))
    assert(empty.count() == 0)
    assertLikeReference(empty)
    val allNull = spark.read.parquet(parquetTable(
      df.limit(2000).withColumn("doc_id", nullId), "fused-allnull"))
    assertLikeReference(allNull)
    val fewNull = spark.read.parquet(parquetTable(
      df.withColumn("doc_id", when(col("doc_id").endsWith("7"), nullId)
        .otherwise(col("doc_id"))), "fused-fewnull"))
    assert(fewNull.filter(col("doc_id").isNull).count() > 1)
    assertLikeReference(fewNull)
  }
}
