package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.lineage.Commit
import graft.ops.{Cached, IncrementalDedup}

/** The micro-batch shape the two streaming deduplicators share
  * ([[StreamingDedup]], [[StreamingPipeline]]): one way to start the
  * stream, one rule for per-batch output directories, and one
  * signature-index step.
  */
private[graft] object MicroBatch {

  /** The signature-index step's LSH shape: word-shingle width, MinHash
    * permutations and bands.
    */
  private[streaming] val ShingleK = 3
  private[streaming] val Perms = 32
  private[streaming] val Bands = 16

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff `path` holds at least one data entry ([[Commit.isData]]).
    * Existence is not enough: an empty partitioned write leaves a
    * file-less dir, and a parquet read of one fails schema inference.
    */
  def nonEmptyDir(fs: FileSystem, path: String): Boolean = {
    val p = fs.makeQualified(new Path(path))
    fs.exists(p) && fs.listStatus(p).exists(s => Commit.isData(s.getPath.getName))
  }

  /** Start a `foreachBatch` stream over a flat directory of parquet
    * document files; without `schema` it is inferred from the files there.
    */
  def start(spark: SparkSession, inputDir: String, checkpoint: String,
            trigger: Trigger, schema: Option[StructType])(
      processBatch: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(schema.getOrElse(spark.read.parquet(inputDir).schema))
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(processBatch)
      .start()

  /** Replace the per-batch directory `path` with `df`, written as it is
    * partitioned (NEVER repartition(1) a corpus-sized output: the 1M-doc
    * soak run OOMed the single write task). The output root must stay
    * readable from the first batch on: Spark 4.1 writes one empty,
    * schema-bearing part file for an empty frame, and should a write
    * leave no data file anyway, the listing (no job) adds one.
    */
  def writeBatchDir(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    val spark = df.sparkSession
    if (!nonEmptyDir(fs(spark, path), path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema)
        .write.mode("overwrite").parquet(path)
  }

  /** The signature-index step of both streaming deduplicators, once per
    * micro-batch over the index at `root`: shingle `docs` (doc_id, text)
    * once into banded signature rows (persisted for the step, released on
    * every path), probe the index for (new x prior) + (new x new)
    * candidate pairs, hand them to `decide`, then append the signatures
    * of the ids it keeps (None: every id) and fold old deltas once more
    * than `maxDeltas` accumulate. `decide` returns the tables it pinned
    * with its ids; they are closed after the append.
    *
    * Replay guard: a crash between the caller's writes and the append
    * leaves the index holding THIS batch; probing it back would count the
    * batch twice in the combined bucket sizes and drop buckets near
    * [[IncrementalDedup.MaxBucket]] on replay only. The probe excludes the
    * batch, and the running batch is never folded, so the exclusion
    * survives compaction.
    */
  def indexStep(spark: SparkSession, docs: DataFrame, batchId: Long,
                root: String, minJaccard: Double, maxDeltas: Int)(
      decide: DataFrame => Cached[Option[DataFrame]]): Unit = {
    val fresh = IncrementalDedup.signatureRows(docs, "text", "doc_id",
        ShingleK, Perms, Bands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val index = CompactedIndex.read(spark, fs(spark, root), root, batchId)
      val kept = decide(IncrementalDedup.candidatePairs(fresh, index,
        Perms, minJaccard))
      // append AFTER probing (a batch must not meet itself via the index)
      try CompactedIndex.append(
          kept.value.fold(fresh)(ids =>
            fresh.join(ids, fresh("id") === ids("doc_id"), "left_semi")),
          root, batchId, Seq("band"))
      finally kept.close()
      // compact AFTER appending (only batches < this one ever fold)
      CompactedIndex.maybeCompact(spark, fs(spark, root), root, batchId,
        maxDeltas, Seq("band"))
    } finally fresh.unpersist()
  }
}
