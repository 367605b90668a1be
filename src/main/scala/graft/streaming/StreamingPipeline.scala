package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.ops.{IncrementalDedup, QualityFilter, Redaction}

/** The full training-data preparation chain as a STREAMING deployment
  * over a growing documents directory — the incremental counterpart of
  * [[graft.ops.Pipeline]]: each micro-batch is quality-gated, PII-
  * scrubbed, exact-deduplicated and near-deduplicated against everything
  * KEPT so far (keep-first policy), then appended to the train corpus.
  * Per-batch SHUFFLE and compute are proportional to the batch, never
  * the corpus: the prior corpus is touched only through its two
  * persisted indexes (the content-hash index and the banded minhash
  * signature index), both probed with batch-sized join sides, plus a
  * BOUNDED id-pushed read of train/ text for the pair-touched rerank
  * (at most 2x the bucket-capped candidate count of ids, pushed into
  * the parquet scan). The one corpus-proportional term is the probes'
  * SCAN of the two indexes themselves — narrow 24-40-byte rows, no
  * text, embarrassingly parallel, and amortized by batch sizing (probe
  * rows read per batch document = index/batch ratio; schedule larger
  * batches as the kept corpus grows). Making the probe sub-linear
  * would take a point-lookup store for the index, not a columnar scan
  * — out of scope for a Spark-native layout and unnecessary until the
  * index outweighs batch mining.
  *
  * Keep-first semantics (deterministic): a batch document is dropped as
  * a near-duplicate iff it has a CONFIRMED pair — an LSH candidate
  * (shared band, signature agreement >= minJaccardEst) whose exact
  * n-gram Jaccard, reranked against the pair's real text, is >=
  * jaccardThreshold — with a PRIOR KEPT document, or with a smaller-id
  * document of its own batch (after exact dedup). The rerank is the same
  * decision the batch [[graft.ops.Pipeline]] makes (round-4 VERDICT #1:
  * the estimator-only drop silently lost documents the batch pipeline
  * keeps on estimator false positives); its cost is batch-proportional —
  * pairs are bucket-capped and only pair-touched texts are shingled,
  * batch-side text from the micro-batch itself, prior-side text
  * semi-joined out of the durable train/ corpus. Only KEPT documents
  * enter the indexes — a rejected document never blocks a future one. On
  * similarity CHAINS (a~b, b~c, a!~c) the within-batch rule is
  * conservative (c is dropped even though b was): that makes the batch
  * split observable for chains, while chain-free corpora produce the
  * SAME kept set regardless of how the input is batched (pinned in
  * StreamingPipelineSpec). [[graft.ops.Pipeline]]'s batch semantics
  * (connected components, keep cluster-min) differ on chains the same
  * way.
  *
  * Exactly-once across restarts, the [[StreamingDedup]] layout: per-batch
  * output directories (full overwrite — idempotent on replay), indexes in
  * the [[CompactedIndex]] base+delta layout (dynamic-overwrite batch_id
  * deltas, periodically folded into a compacted base so listing cost is
  * bounded instead of one directory per batch forever), and every index
  * read EXCLUDES the current batch_id so a replay that crashed between
  * the output write and the index append cannot meet itself (the running
  * batch is never folded, so the exclusion survives compaction).
  */
object StreamingPipeline {

  def trainPath(statePath: String) = s"$statePath/train"
  def rejectsPath(statePath: String) = s"$statePath/rejects"
  def funnelPath(statePath: String) = s"$statePath/funnel"
  def hashIndexPath(statePath: String) = s"$statePath/hash-index"
  def sigIndexPath(statePath: String) = s"$statePath/sig-index"
  def checkpointPath(statePath: String) = s"$statePath/checkpoint"

  final case class Params(
      rules: QualityFilter.Rules = QualityFilter.Rules(),
      shingleK: Int = 3, perms: Int = 32, bands: Int = 16,
      /** signature-agreement PREFILTER for candidate mining (the same
        * role as the batch Pipeline's mining threshold) — candidates
        * below it are never reranked
        */
      minJaccardEst: Double = 0.2,
      /** exact n-gram Jaccard threshold for the near-dup DROP, applied
        * to reranked candidate pairs — [[graft.ops.Pipeline.Config]]'s
        * jaccardThreshold, same default
        */
      jaccardThreshold: Double = 0.8,
      maxBucket: Int = 64,
      /** delta partitions tolerated per index before it folds into a
        * compacted base generation ([[CompactedIndex]])
        */
      maxIndexDeltas: Int = 16,
      /** largest prior-side id set pushed into the rerank's train scan
        * as an In filter (and the bound on its driver-side collect);
        * beyond it (degenerate pair explosions only — pairs are
        * bucket-capped) the rerank falls back to a full-scan semi-join
        * with identical semantics (fallback parity pinned in
        * StreamingPipelineSpec)
        */
      maxRerankPushdownIds: Int = 100000)

  /** Full index contents (base + deltas) — inspection/test surface.
    * None before the first append (a schemaless empty frame would throw
    * on any column reference).
    */
  def hashIndex(spark: SparkSession, statePath: String): Option[DataFrame] =
    readFullIndex(spark, hashIndexPath(statePath))
  def sigIndex(spark: SparkSession, statePath: String): Option[DataFrame] =
    readFullIndex(spark, sigIndexPath(statePath))
  private def readFullIndex(spark: SparkSession, root: String): Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    CompactedIndex.read(spark, fs, root, -1L)
  }

  /** All batches' kept documents (batch_id is a partition column). */
  def train(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(trainPath(statePath))

  /** All batches' rejects: (doc_id, stage, reasons, batch_id). */
  def rejects(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(rejectsPath(statePath))

  /** Per-batch source funnel rows (round 6 — the streaming twin of
    * [[graft.ops.Pipeline.sourceFunnel]]): (source, stage_idx, stage,
    * n_docs, batch_id), one complete zero-filled grid per batch over the
    * batch's own sources. Written per-batch-dir like train/rejects, so
    * replays overwrite idempotently and a crashed batch leaves no
    * half-funnel.
    */
  def funnel(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(funnelPath(statePath))

  /** Deployment-lifetime funnel: per (source, stage) totals across all
    * batches — directly comparable to the batch pipeline's funnel on the
    * shared stages (scrubbed / exact_dedup / near_dedup; streaming has
    * no decontamination stage and ships what near-dedup keeps).
    */
  def funnelTotals(spark: SparkSession, statePath: String): DataFrame =
    funnel(spark, statePath)
      .groupBy(col("source"), col("stage_idx"), col("stage"))
      .agg(sum(col("n_docs")).as("n_docs"))

  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
                                      batchId: Long, statePath: String,
                                      p: Params): Unit = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def have(path: String): Boolean = StateFs.nonEmptyDir(fs, path)

    // ---- quality gate + scrub (pure projections)
    val annotated = QualityFilter.annotate(batch, "text", p.rules)
    val qualityRejects = annotated.filter(!col("keep"))
      .select(col("doc_id"), lit("quality").as("stage"), col("reasons"))
    val clean = annotated.filter(col("keep")).drop("keep", "reasons")
      .withColumn("text", Redaction.redact(col("text")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- exact dedup: narrow (hash, hash2, id) rows only; a doc is
      // dropped if its content key was KEPT in any prior batch, or if a
      // smaller-id doc of this batch shares it. TWO independent hashes —
      // the same ~2^-128 joint-collision key as Dedup.dropExactDuplicates
      // (a single 64-bit key false-drops ~10^4 docs at 10^12 rows).
      val hashed = clean.select(col("doc_id"),
        xxhash64(col("text")).as("dup_hash"),
        graft.ops.Dedup.contentHash2(col("text")).as("dup_hash2"))
      val dropWithin = hashed
        .join(hashed.groupBy(col("dup_hash"), col("dup_hash2"))
            .agg(min(col("doc_id")).as("__keep_id")),
          Seq("dup_hash", "dup_hash2"))
        .filter(col("doc_id") =!= col("__keep_id"))
        .select(col("doc_id"))
      val dropPrior = CompactedIndex.read(spark, fs,
          hashIndexPath(statePath), batchId) match {
        case None => spark.emptyDataFrame
          .select(lit(0L).as("doc_id")).limit(0)
        case Some(idx) => hashed.join(
            idx.select(col("dup_hash"), col("dup_hash2")),
            Seq("dup_hash", "dup_hash2"), "left_semi")
          .select(col("doc_id"))
      }
      val exactDropIds = dropWithin.unionByName(dropPrior).distinct()
      val exactRejects = exactDropIds
        .select(col("doc_id"), lit("exact_dup").as("stage"),
          array(lit("exact_duplicate")).as("reasons"))
      val afterExact = clean.join(exactDropIds, Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
      // ---- near-dup vs kept corpus + within batch (keep-first)
      val fresh = IncrementalDedup.signatureRows(afterExact, "text", "doc_id",
          p.shingleK, p.perms, p.bands)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val priorSigs = CompactedIndex.read(spark, fs,
          sigIndexPath(statePath), batchId)
        val cands = IncrementalDedup.candidatePairs(fresh, priorSigs,
          p.perms, p.minJaccardEst, p.maxBucket)
        // the candidate set is tiny (bucket-capped) but its LOGICAL plan
        // embeds the whole mining join, and the rerank replays that plan
        // three times (id prune + both text joins) inside every
        // downstream write — without truncation, per-action Catalyst
        // analysis went super-linear (a round-5 test run sat minutes in
        // TreeNode.exists). localCheckpoint materializes the pair ids
        // eagerly and cuts the lineage; losing the blocks just fails the
        // batch, and the batch is replay-idempotent by construction.
        val pairIds = cands.select(col("id_a"), col("id_b"))
          .localCheckpoint(true)
        // rerank the estimator candidates on exact n-gram Jaccard — the
        // SAME drop decision as batch Pipeline.run. Pair text is durably
        // at hand on both sides: batch ids from the micro-batch, prior
        // KEPT ids from train/ (excluding own batch_id — a replay that
        // crashed after the train write must not rerank against itself;
        // candidate ids can't reference own-batch train rows anyway since
        // the sig probe excludes them). The prior-side ids are collected
        // to the driver (bounded: at most 2x the bucket-capped pair
        // count) and PUSHED into the train scan — without the pushed
        // filter the rerank's semi-join still SCANNED every kept
        // document's text each batch (O(corpus) per batch, the exact
        // regression the header forbids); with it, parquet row-group
        // stats skip untouched files. A degenerate pair explosion beyond
        // the push-down cap falls back to the scan-and-semi-join shape
        // instead of building a pathological In filter.
        val textPool = {
          val batchTexts = afterExact.select(col("doc_id"), col("text"))
          if (!have(trainPath(statePath))) batchTexts
          else {
            val touched = pairIds.select(col("id_a").as("id"))
              .unionByName(pairIds.select(col("id_b").as("id"))).distinct()
            // limit BEFORE collect: the cap must bound the driver
            // materialization itself, not just the In-filter size — cap+1
            // rows distinguishes "fits" from "overflowed, fall back"
            val priorTouched = touched
              .join(afterExact.select(col("doc_id").as("id")), Seq("id"), "left_anti")
              .limit(p.maxRerankPushdownIds + 1)
              .collect().map(_.getLong(0))
            if (priorTouched.isEmpty) batchTexts
            else {
              val train = spark.read.parquet(trainPath(statePath))
                .filter(col("batch_id") =!= batchId)
              val priorTexts =
                if (priorTouched.length <= p.maxRerankPushdownIds)
                  train.filter(col("doc_id")
                    .isin(priorTouched.toSeq.map(Long.box): _*))
                else train // overflow: scan + ngramJaccard's semi-join
              batchTexts.unionByName(
                priorTexts.select(col("doc_id"), col("text")))
            }
          }
        }
        val reranked = graft.ops.Dedup.ngramJaccard(textPool, pairIds,
          "text", "doc_id", p.shingleK)
        try {
        val confirmed = reranked.value
          .filter(col("jaccard") >= p.jaccardThreshold)
        // each pair drops its "later" side: the batch doc when the other
        // side is prior-kept, the larger id when both are batch docs
        val batchIds = afterExact.select(col("doc_id").as("other"))
          .withColumn("__other_new", lit(true))
        val dirs = confirmed.select(col("id_a").as("doc_id"), col("id_b").as("other"))
          .unionByName(
            confirmed.select(col("id_b").as("doc_id"), col("id_a").as("other")))
        // persisted: this id frame feeds THREE actions (the rejects
        // write, the empty-check, the kept write) — without the persist
        // the whole candidate-mining + rerank join would re-run per action
        val nearDropIds = dirs
          .join(afterExact.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .join(batchIds, Seq("other"), "left")
          .filter(col("__other_new").isNull || col("other") < col("doc_id"))
          .select(col("doc_id")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
        val nearRejects = nearDropIds
          .select(col("doc_id"), lit("near_dup").as("stage"),
            array(lit("near_duplicate")).as("reasons"))
        val kept = afterExact.join(nearDropIds, Seq("doc_id"), "left_anti")

        // ---- idempotent writes: per-batch dirs first, index appends
        // LAST (a batch must never meet itself — reads above exclude
        // this batch_id in case a replay crashed between the two)
        // natural partitioning — NEVER repartition(1) a corpus-sized
        // output (the 1M-doc soak run OOMed the single write task). But
        // an EMPTY frame written naturally emits zero part files and the
        // root becomes unreadable, so only that case forces one (empty,
        // schema-bearing) file — pinned by the all-rejected-batch spec.
        def writeBatchDir(df: DataFrame, path: String): Unit =
          (if (df.isEmpty) df.repartition(1) else df)
            .write.mode("overwrite").parquet(path)
        writeBatchDir(
          qualityRejects.unionByName(exactRejects).unionByName(nearRejects),
          s"${rejectsPath(statePath)}/batch_id=$batchId")
        writeBatchDir(kept, s"${trainPath(statePath)}/batch_id=$batchId")

        // ---- per-batch source funnel: survivors per (source, stage)
        // over the batch's cached frames (clean/afterExact persisted
        // above; kept is two anti-joins over them). Complete grid with
        // explicit zeros and a NULL-SAFE source match — the batch
        // funnel's q-class lessons (EqualTo gives NULL sources 0 at
        // every stage; a missing grid row reads as "never seen").
        locally {
          val funnelRows = graft.ops.Pipeline.funnelGrid(
            Seq((0, "input", batch), (1, "scrubbed", clean),
              (2, "exact_dedup", afterExact), (3, "near_dedup", kept)),
            gridSource = batch)
          writeBatchDir(funnelRows,
            s"${funnelPath(statePath)}/batch_id=$batchId")
        }

        val keptIds = kept.select(col("doc_id"))
        CompactedIndex.append(
          hashed.join(keptIds, Seq("doc_id"), "left_semi"),
          hashIndexPath(statePath), batchId, Nil)
        CompactedIndex.append(
          fresh.join(keptIds, fresh("id") === keptIds("doc_id"), "left_semi"),
          sigIndexPath(statePath), batchId, Seq("band"))
        // compact AFTER appending — only batches < this one ever fold, so
        // the replay self-exclusion stays exact
        CompactedIndex.maybeCompact(spark, fs, hashIndexPath(statePath),
          batchId, p.maxIndexDeltas, Nil)
        CompactedIndex.maybeCompact(spark, fs, sigIndexPath(statePath),
          batchId, p.maxIndexDeltas, Seq("band"))
        // every persist released on ALL paths — a failed batch in a
        // long-lived (follow-mode / StreamBench) session must not pin
        // batch-sized cache blocks
        } finally nearDropIds.unpersist()
        } finally reranked.close()
      } finally fresh.unpersist()
      } finally afterExact.unpersist()
    } finally clean.unpersist()
  }

  /** Start the stream over a flat directory of parquet document files
    * (doc_id, text, source). AvailableNow by default — the scheduled
    * incremental deployment; pass `schema` for a possibly-empty dir.
    */
  def start(spark: SparkSession, inputDir: String, statePath: String,
            params: Params = Params(),
            trigger: Trigger = Trigger.AvailableNow(),
            schema: Option[StructType] = None): StreamingQuery = {
    val s = schema.getOrElse(spark.read.parquet(inputDir).schema)
    spark.readStream.schema(s).parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointPath(statePath))
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, statePath, params)
      }
      .start()
  }
}
