package graft.constraints

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lineage.Checkpoint
import Validator.{SuiteConfig, ValidationReport}

/** Checkpointed, restartable validation over a source-partitioned
  * sequences table. A rerun after a crash revalidates only partitions
  * whose input lineage (file list) changed; unchanged partitions' stats,
  * violations, and verdict inputs are served from state — the scan skip is
  * real partition pruning on the `source=` filter.
  */
object ResumableValidator {

  final case class RunSummary(
      report: ValidationReport,
      validatedSources: Seq[String],
      skippedSources: Seq[String],
      totalRows: Long)

  def run(spark: SparkSession, inputPath: String, dim: DataFrame,
          cfg: SuiteConfig, statePath: String): RunSummary = {

    val (done, todo) = Checkpoint.plan(spark, inputPath, statePath)
    val allSources = (done ++ todo).map(_.source)
    require(allSources.nonEmpty,
      s"$inputPath has no source= partitions; use Validator.validateOneScan for unpartitioned input")
    val input = spark.read.parquet(inputPath)

    if (todo.nonEmpty) {
      val todoSources = todo.map(_.source)
      // partition-pruned scan: only not-yet-validated sources are read.
      // ONE scan per run: the per-source stats ride the violations write
      // as an observe aggregate (Validator.observeStats) instead of a
      // second full pass over the fresh partitions.
      val fresh = input.filter(col("source").isin(todoSources: _*))
      val (observed, statsThunk) = Validator.observeStats(fresh, cfg)

      Validator.violations(observed, cfg)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source")
        .parquet(Checkpoint.violationsPath(statePath))

      val freshStats = statsThunk()
      if (freshStats.nonEmpty)
        Validator.statsToDf(spark, freshStats)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("source")
          .parquet(Checkpoint.statsPath(statePath))

      // manifests LAST: a crash between data and manifest writes only
      // means redundant (idempotent) revalidation on the next run
      val freshRowCounts = freshStats
        .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_rows")).toMap
      todo.foreach { pl =>
        Checkpoint.writeManifest(spark, statePath, pl,
          freshRowCounts.getOrElse(pl.source, 0L))
      }
    }

    // assemble from state for ALL current sources
    val stats = spark.read.parquet(Checkpoint.statsPath(statePath))
      .filter(col("source").isin(allSources: _*))
      .collect()
    // an all-clean run writes no violation files; fall back to an empty
    // frame with the canonical schema
    val viols =
      try spark.read.parquet(Checkpoint.violationsPath(statePath))
        .filter(col("source").isin(allSources: _*))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        Validator.violations(input.limit(0), cfg)
      }

    // global uniqueness always reruns: it is cross-partition by nature and
    // scans a one-column projection of the full table
    val dupAgg = Validator.dupStats(input, cfg)

    val verdicts = Validator.buildVerdicts(spark, stats, dim.collect(), dupAgg, cfg)
    verdicts.coalesce(1).write.mode("overwrite")
      .parquet(Checkpoint.verdictsPath(statePath))

    val totalRows = stats.map(_.getAs[Long]("n_rows")).sum
    RunSummary(
      ValidationReport(verdicts, viols, Validator.statsToDf(spark, stats)),
      validatedSources = todo.map(_.source),
      skippedSources = done.map(_.source),
      totalRows = totalRows)
  }
}
