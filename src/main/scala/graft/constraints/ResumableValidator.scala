package graft.constraints

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets.UTF_8

import graft.lineage.Checkpoint
import SuiteStatsBySourceAgg._
import Validator.{SuiteConfig, ValidationReport}

/** Checkpointed, restartable validation over a source-partitioned
  * sequences table. A rerun after a crash revalidates only partitions
  * whose input lineage (file list) or suite key
  * ([[SuiteStatsBySourceAgg.suiteKey]]) changed; unchanged partitions'
  * stats (the aggregate's own buffer bytes, in the partition's
  * [[Checkpoint]] state file) and violations are served from state — the
  * scan skip is real partition pruning on the `source=` filter. Global
  * uniqueness is served from its own state file while no input partition
  * changed, so a no-op rerun reads no table rows.
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
    val partitions = Checkpoint.inputPartitions(spark, inputPath)
    // stored buffers of each partition whose lineage AND suite key are
    // current; every other partition is revalidated
    val (done, todo) = partitions.map { pl =>
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
    // read under the schema the write produces (the partition column
    // `source` last), so no job infers it; an all-clean run writes no
    // violation files, so fall back to an empty frame
    val empty = Validator.violations(input.limit(0), cfg)
    val written = StructType(empty.schema.filterNot(_.name == "source") :+ empty.schema("source"))
    val viols =
      try spark.read.schema(written).parquet(Checkpoint.violationsPath(statePath))
        .filter(col("source").isin(allSources: _*))
      catch { case _: org.apache.spark.sql.AnalysisException => empty }

    // global uniqueness is cross-partition by nature: it is served from
    // state only while EVERY partition is unchanged, else recomputed over
    // a one-column projection of the full table and its file written last
    val inputKey = Checkpoint.inputFingerprint(partitions)
    val dups = Checkpoint.readUniqueness(spark, statePath).collect {
      case (`inputKey`, payload) =>
        val Array(k, extra) = new String(payload, UTF_8).split(' ').map(_.toLong)
        (k, extra)
    }.getOrElse {
      val (k, extra) = Validator.dupStats(input, cfg).get
      Checkpoint.writeUniqueness(spark, statePath, inputKey, s"$k $extra".getBytes(UTF_8))
      (k, extra)
    }

    val verdicts = Validator.buildVerdicts(spark, rows, dim.collect(), Some(dups), cfg)
    RunSummary(
      ValidationReport(verdicts, viols, Validator.statsToDf(spark, rows)),
      validatedSources = todo.map(_._1.source),
      skippedSources = done.map(_._1.source),
      totalRows = stats.values.map(_.nRows).sum)
  }
}
