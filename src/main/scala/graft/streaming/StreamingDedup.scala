package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.Cached

/** Continuous near-duplicate mining over a GROWING documents directory —
  * the streaming deployment of [[graft.ops.IncrementalDedup]]. Each
  * micro-batch is the shared signature-index step
  * ([[MicroBatch.indexStep]]) with the simplest decision: write the
  * candidate pairs, keep every id. Old x old work is never repeated —
  * per-batch shuffle and pair mining are proportional to the batch, not
  * the corpus (the probe's SCAN of the narrow signature index is the one
  * corpus-proportional term, amortized by batch sizing — see
  * BENCH/SCALE.md).
  *
  * Exactly-once across restarts, without a watermark file:
  *  - each batch's candidates land in their own `batch_id=N` directory
  *    ([[MicroBatch.writeBatchDir]]: full overwrite — idempotent on
  *    replay, readable even when a batch finds zero pairs);
  *  - the index uses the [[CompactedIndex]] base+delta layout: appends
  *    are dynamic-overwrite `batch_id=N` delta partitions (idempotent on
  *    replay), and once more than [[MaxIndexDeltas]] deltas
  *    accumulate they are folded into a compacted base generation —
  *    probe listing cost stays O(MaxIndexDeltas + 1) instead of growing
  *    one directory per batch forever (round-4 VERDICT);
  *  - a replay that probes an index already containing its own batch
  *    (crash between the two writes) excludes its own batch_id from the
  *    probe, so it emits the same pairs as the original run even near the
  *    bucket cap (the near-cap replay test pins this).
  */
object StreamingDedup {

  def indexPath(statePath: String) = s"$statePath/sig-index"
  def candidatesPath(statePath: String) = s"$statePath/candidates"
  def checkpointPath(statePath: String) = s"$statePath/checkpoint"

  /** Delta partitions tolerated before the index folds into a compacted
    * base generation.
    */
  private val MaxIndexDeltas = 16

  /** One micro-batch: candidate pairs at estimated Jaccard >= `minJaccard`. */
  private[streaming] def processBatch(spark: SparkSession, batch: DataFrame,
                                      batchId: Long, statePath: String,
                                      minJaccard: Double): Unit =
    MicroBatch.indexStep(spark, batch, batchId, indexPath(statePath),
        minJaccard, MaxIndexDeltas) { cands =>
      MicroBatch.writeBatchDir(cands,
        s"${candidatesPath(statePath)}/batch_id=$batchId")
      Cached(None, Nil)
    }

  /** Start the stream over a flat directory of parquet document files.
    * AvailableNow by default (the scheduled incremental-batch deployment).
    * Pass `schema` when deploying against a directory that may still be
    * empty.
    */
  def start(spark: SparkSession, inputDir: String, statePath: String,
            minJaccard: Double = 0.5,
            trigger: Trigger = Trigger.AvailableNow(),
            schema: Option[StructType] = None): StreamingQuery =
    MicroBatch.start(spark, inputDir, checkpointPath(statePath), trigger,
      schema)(processBatch(spark, _, _, statePath, minJaccard))
}
