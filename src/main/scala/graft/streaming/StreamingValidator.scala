package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.constraints.{SuiteStatsAgg, Validator}
import graft.constraints.Validator.SuiteConfig
import graft.lineage.Commit

/** Continuous validation of a GROWING sequences directory — the streaming
  * twin of [[graft.constraints.ResumableValidator]]. New parquet files
  * arriving under `inputDir` are picked up by the file stream source; each
  * micro-batch flows through the same one-scan stats + violations plan as
  * the batch suite, and its per-source stat sketches are merged into
  * cumulative state (counts add, min/max fold, HLL union, KLL merge — the
  * reference's commutative extract-then-merge monoid, core.clj:22-27,
  * applied across TIME instead of across partitions).
  *
  * Exactly-once accounting across restarts:
  *  - the stream checkpoint (`statePath/checkpoint`) makes batch ids
  *    deterministic on replay;
  *  - violations are written partitioned by batch_id with dynamic
  *    partition overwrite — a replayed batch overwrites its own output
  *    instead of duplicating it;
  *  - cumulative stats carry `last_batch_id`; a replayed batch whose id
  *    is <= the stored watermark is skipped (the merge is NOT re-applied).
  *
  * Global exact uniqueness is a cross-history shuffle and is intentionally
  * NOT recomputed per batch at stream scale; the verdict uses the merged
  * HLL estimate (distinct_est vs rows seen), labelled `uniqueness_approx`.
  */
object StreamingValidator {

  def statsPath(statePath: String) = s"$statePath/stream-stats"
  def violationsPath(statePath: String) = s"$statePath/violations"
  def verdictsPath(statePath: String) = s"$statePath/verdicts"
  def checkpointPath(statePath: String) = s"$statePath/checkpoint"

  /** Merge two per-source stats row sets (driver-side: one small row per
    * source) with the suite's own monoid: each row becomes a
    * [[SuiteStatsAgg.Buf]], buffers of a source fold by `mergeIn`, and
    * `evalBuf` reads the result back — the same counters, min/max, HLL_8
    * union, KLL merge and histogram add as the one-pass aggregate.
    */
  def mergeStatsRows(a: Array[Row], b: Array[Row], kllK: Int): Array[Row] = {
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(SuiteStatsAgg.schema)
    (a ++ b).groupBy(_.getAs[String]("source")).toArray.sortBy(_._1).map {
      case (source, rows) =>
        val merged = rows.map(SuiteStatsAgg.Buf.fromRow(_, kllK)).reduce(_ mergeIn _)
        val stats = toRow(SuiteStatsAgg.evalBuf(merged)).asInstanceOf[Row]
        new GenericRowWithSchema((source +: stats.toSeq).toArray, Validator.statsSchema): Row
    }
  }

  /** Estimated duplicate mass from merged HLL vs total rows seen (the
    * stream-scale uniqueness signal; tolerance covers HLL error).
    */
  def approxUniquenessVerdict(spark: SparkSession, stats: Array[Row],
                              tolerance: Double = 0.02): DataFrame = {
    import spark.implicits._
    val totalRows = stats.map(_.getAs[Long]("n_rows")).sum
    val u = new org.apache.datasketches.hll.Union(12)
    stats.foreach(r => u.update(
      org.apache.datasketches.hll.HllSketch.heapify(r.getAs[Array[Byte]]("hll_docid"))))
    val est = math.round(u.getEstimate)
    val pass = totalRows == 0 || est >= totalRows * (1.0 - tolerance)
    Seq(("*", "uniqueness_approx", pass,
      s"~$est distinct doc_ids / $totalRows rows (HLL)",
      f"distinct >= ${(1.0 - tolerance) * 100}%.0f%% of rows"))
      .toDF("source", "check", "pass", "observed", "expected")
  }

  /** Assemble verdicts from cumulative stats (per-source checks + drift +
    * the HLL uniqueness estimate).
    */
  def verdictsFromStats(spark: SparkSession, stats: Array[Row],
                        dim: Array[Row], cfg: SuiteConfig): DataFrame =
    Validator.buildVerdicts(spark, stats, dim, dupStats = None, cfg)
      .union(approxUniquenessVerdict(spark, stats))

  /** Start the stream. With the default AvailableNow trigger this
    * processes everything currently in `inputDir` and stops — the
    * "incremental batch" deployment (rerun on a schedule, each run picks
    * up only new files); pass ProcessingTime for an always-on daemon.
    */
  def start(spark: SparkSession, inputDir: String, statePath: String,
            dim: DataFrame, cfg: SuiteConfig = SuiteConfig(),
            trigger: Trigger = Trigger.AvailableNow(),
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val schema = spark.read.parquet(inputDir).schema
    val dimRows = dim.collect()
    val reader = spark.readStream.schema(schema)
    // NB: the file source needs a FLAT directory of parquet files with
    // `source` as a DATA column (hive-partitioned layouts would strip it
    // from the files); growing corpora append part files here
    val stream = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .parquet(inputDir)

    stream.writeStream
      .option("checkpointLocation", checkpointPath(statePath))
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, statePath, dimRows, cfg)
      }
      .start()
  }

  /** One micro-batch: violations (idempotent per batch), stats merge
    * (watermarked by batch id), verdict refresh.
    */
  private[streaming] def processBatch(spark: SparkSession, batch: DataFrame,
                                      batchId: Long, statePath: String,
                                      dimRows: Array[Row], cfg: SuiteConfig): Unit = {
    val prev = readStats(spark, statePath)
    val lastBatch = prev.map(_._1).getOrElse(-1L)
    if (batchId <= lastBatch) {
      // replay of an already-merged batch: the merge must NOT re-apply,
      // but a crash between writeStats and the verdicts write would have
      // left verdicts stale — rewrite them from the stored stats so the
      // replay repairs the partial commit (idempotent either way)
      prev.foreach { case (_, rows) =>
        verdictsFromStats(spark, rows, dimRows, cfg)
          .coalesce(1).write.mode("overwrite").parquet(verdictsPath(statePath))
      }
      return
    }

    // ONE pass over the micro-batch: the per-source stats ride the
    // violations write as an observe aggregate (Validator.observeStats)
    val (observed, statsThunk) = Validator.observeStats(batch, cfg)
    Validator.violations(observed, cfg)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(violationsPath(statePath))

    val merged = mergeStatsRows(
      prev.map(_._2).getOrElse(Array.empty[Row]),
      statsThunk(),
      cfg.kllK)
    if (merged.nonEmpty) {
      writeStats(spark, statePath, batchId, merged)
      verdictsFromStats(spark, merged, dimRows, cfg)
        .coalesce(1).write.mode("overwrite").parquet(verdictsPath(statePath))
    }
  }

  /** Legacy-state guard (round-6 ADVICE): pre-round-5 stats state used a
    * mutable CURRENT pointer next to markerless gen dirs. After the
    * marker-protocol switch that layout silently read as None — the
    * drift baseline reset and the old gens got pruned as orphans. Fail
    * loudly instead, mirroring CompactedIndex.rejectLegacyLayout: the
    * operator migrates by committing the pointed-at generation with the
    * new marker (create gen-N/[[Commit.Marker]], delete CURRENT).
    */
  private def rejectLegacyStats(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String): Unit = {
    val cur = new org.apache.hadoop.fs.Path(dir, "CURRENT")
    if (fs.exists(cur))
      sys.error(s"$dir holds a pre-marker-protocol stats state (CURRENT " +
        "pointer file). Migrate by creating " +
        s"$dir/gen-<N>/${Commit.Marker} for the generation CURRENT " +
        "points at and deleting CURRENT, or rebuild the state — reading " +
        "it as empty would silently reset the drift baseline.")
  }

  private def writeStats(spark: SparkSession, statePath: String,
                         batchId: Long, stats: Array[Row]): Unit = {
    val df = Validator.statsToDf(spark, stats).withColumn("last_batch_id", lit(batchId))
    // two-generation layout, one Commit.write per generation (retention
    // shared with CompactedIndex.pruneGens). Readers never see a
    // half-written directory; a crashed write leaves an invisible
    // (markerless) orphan the next prune removes. The earlier
    // CURRENT-pointer flip used truncate-then-write, so a crash mid-flip
    // corrupted the state permanently (round-5 review).
    val gen = s"${statsPath(statePath)}/gen-$batchId"
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    rejectLegacyStats(fs, statsPath(statePath))
    Commit.write(fs, gen)(df.coalesce(1).write.mode("overwrite").parquet(gen))
    CompactedIndex.pruneGens(fs, statsPath(statePath), batchId)
  }

  def readStats(spark: SparkSession, statePath: String): Option[(Long, Array[Row])] = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    rejectLegacyStats(fs, statsPath(statePath))
    CompactedIndex.committedGenNumbers(fs, statsPath(statePath)).lastOption.map { n =>
      val df = spark.read.parquet(s"${statsPath(statePath)}/gen-$n")
      val batchId = df.select(col("last_batch_id")).head().getLong(0)
      (batchId, df.drop("last_batch_id").collect())
    }
  }
}
