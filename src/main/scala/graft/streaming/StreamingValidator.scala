package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.constraints.{SuiteStatsAgg, SuiteStatsBySourceAgg, Validator}
import graft.constraints.SuiteStatsBySourceAgg._
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
  *  - cumulative stats are one file per batch, `gen-<batchId>/stats` (the
  *    aggregate's own buffer bytes); a replayed batch whose id is <= the
  *    newest committed generation's is skipped (the merge is NOT re-applied).
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
    * source) with the suite's own monoid: the rows become
    * [[SuiteStatsAgg.Buf]]s, buffers of a source fold by `mergeIn`, and
    * `evalBuf` reads the result back.
    */
  def mergeStatsRows(a: Array[Row], b: Array[Row], kllK: Int): Array[Row] =
    statsRows(SuiteStatsBySourceAgg.merge(fromRows(a, kllK), fromRows(b, kllK)))

  /** Estimated duplicate mass from merged HLL vs total rows seen (the
    * stream-scale uniqueness signal; the 2% tolerance covers HLL error).
    */
  def approxUniquenessVerdict(spark: SparkSession, stats: Array[Row]): DataFrame = {
    import spark.implicits._
    val tolerance = 0.02
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
    val fs = MicroBatch.fs(spark, statePath)
    val prev = readState(fs, statePath)
    // a replayed batch (id <= the newest generation's) is already merged:
    // the merge must NOT re-apply, but a crash between writeStats and the
    // verdicts write would have left verdicts stale, so they are rewritten
    // from the stored stats either way
    val stats = if (batchId <= prev.fold(-1L)(_._1)) prev.get._3 else {
      val key = suiteKey(cfg)
      require(prev.forall(_._2 == key), s"${statsPath(statePath)} holds the stats of " +
        "another suite config, which cannot be recomputed: use a fresh state dir")
      // ONE pass over the micro-batch: the per-source stats ride the
      // violations write as an observe aggregate (Validator.observeStats)
      val (observed, statsThunk) = Validator.observeStats(batch, cfg)
      Validator.violations(observed, cfg)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(violationsPath(statePath))
      val merged = SuiteStatsBySourceAgg.merge(prev.fold(new Bufs)(_._3),
        fromRows(statsThunk(), cfg.kllK))
      if (merged.nonEmpty) writeStats(fs, statePath, batchId, encodeState(key, merged))
      merged
    }
    if (stats.nonEmpty)
      verdictsFromStats(spark, statsRows(stats), dimRows, cfg)
        .coalesce(1).write.mode("overwrite").parquet(verdictsPath(statePath))
  }

  /** Old layouts fail loudly, never read as empty (that would reset the
    * drift baseline, and pruneGens would delete their generations): a
    * CURRENT pointer (before the marker protocol, as
    * CompactedIndex.rejectLegacyLayout), or a committed generation with
    * no `stats` file (parquet generations).
    */
  private def rejectLegacyStats(fs: FileSystem, dir: String, gen: Option[Long]): Unit = {
    if (fs.exists(new Path(dir, "CURRENT")))
      sys.error(s"$dir holds a pre-marker-protocol stats state (CURRENT " +
        "pointer file). Migrate by creating " +
        s"$dir/gen-<N>/${Commit.Marker} for the generation CURRENT " +
        "points at and deleting CURRENT, or rebuild the state — reading " +
        "it as empty would silently reset the drift baseline.")
    gen.filterNot(n => fs.exists(statsFile(dir, n))).foreach(n => sys.error(
      s"$dir/gen-$n holds parquet stats, the layout before stats files. They " +
        "cannot be recomputed (the source checkpoint consumed their files): " +
        "use a fresh state dir."))
  }

  private def statsFile(dir: String, batchId: Long) = new Path(s"$dir/gen-$batchId/stats")

  private def writeStats(fs: FileSystem, statePath: String, batchId: Long,
                         bytes: Array[Byte]): Unit = {
    // one Commit.write per generation, two kept (CompactedIndex.pruneGens):
    // a crashed write leaves a markerless orphan the next prune removes
    val dir = statsPath(statePath)
    Commit.write(fs, s"$dir/gen-$batchId") {
      val out = fs.create(statsFile(dir, batchId), true)
      try out.write(bytes) finally out.close()
    }
    CompactedIndex.pruneGens(fs, dir, batchId)
  }

  /** The newest committed generation: batch id (dir name), key, buffers. */
  private def readState(fs: FileSystem, statePath: String): Option[(Long, Seq[Int], Bufs)] = {
    val dir = statsPath(statePath)
    val last = CompactedIndex.committedGenNumbers(fs, dir).lastOption
    rejectLegacyStats(fs, dir, last)
    last.map { n =>
      val in = fs.open(statsFile(dir, n))
      try { val (key, m) = decodeState(in.readAllBytes()); (n, key, m) } finally in.close()
    }
  }

  def readStats(spark: SparkSession, statePath: String): Option[(Long, Array[Row])] =
    readState(MicroBatch.fs(spark, statePath), statePath).map { case (n, _, m) => (n, statsRows(m)) }
}
