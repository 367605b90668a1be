package graft.constraints

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lineage.Checkpoint
import SuiteStatsBySourceAgg._
import Validator.{SuiteConfig, ValidationReport}

/** Checkpointed, restartable validation over a source-partitioned
  * sequences table. A rerun after a crash revalidates only partitions
  * whose input lineage (file list) or suite key
  * ([[SuiteStatsBySourceAgg.suiteKey]]) changed; unchanged partitions'
  * stats (the aggregate's own buffer bytes, in the partition's
  * [[Checkpoint]] state file) and violations are served from state — the
  * scan skip is real partition pruning on the `source=` filter.
  */
object ResumableValidator {

  final case class RunSummary(
      report: ValidationReport,
      validatedSources: Seq[String],
      skippedSources: Seq[String],
      totalRows: Long)

  def run(spark: SparkSession, inputPath: String, dim: DataFrame,
          cfg: SuiteConfig, statePath: String): RunSummary = {

    val key = suiteKey(cfg)
    // stored buffers of each partition whose lineage AND suite key are
    // current; every other partition is revalidated
    val (done, todo) = Checkpoint.inputPartitions(spark, inputPath).map { pl =>
      pl -> Checkpoint.readState(spark, statePath, pl.source).collect {
        case (pl.fingerprint, payload) => decodeState(payload)
      }.collect { case (`key`, m) => m }
    }.partition(_._2.isDefined)
    val allSources = (done ++ todo).map(_._1.source)
    require(allSources.nonEmpty,
      s"$inputPath has no source= partitions; use Validator.validateOneScan for unpartitioned input")
    val input = spark.read.parquet(inputPath)
    val stats = done.flatMap(_._2).foldLeft(new Bufs)(SuiteStatsBySourceAgg.merge)

    if (todo.nonEmpty) {
      val todoSources = todo.map(_._1.source)
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

      // state files LAST (lineage + stats, one atomic file per source): a
      // crash before one only means an idempotent revalidation next run
      val freshStats = fromRows(statsThunk(), cfg.kllK)
      todo.foreach { case (pl, _) =>
        val mine = freshStats.filter(_._1.contains(pl.source))
        Checkpoint.writeState(spark, statePath, pl, encodeState(key, mine))
        SuiteStatsBySourceAgg.merge(stats, mine)
      }
    }

    val rows = statsRows(stats)
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

    val verdicts = Validator.buildVerdicts(spark, rows, dim.collect(), dupAgg, cfg)
    RunSummary(
      ValidationReport(verdicts, viols, Validator.statsToDf(spark, rows)),
      validatedSources = todo.map(_._1.source),
      skippedSources = done.map(_._1.source),
      totalRows = stats.values.map(_.nRows).sum)
  }
}
