package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The full training-data preparation chain over a documents table
  * (doc_id, text, source): quality gate -> PII scrub -> exact dedup ->
  * near-dup clusters (keep min id) -> optional decontamination against an
  * eval split -> greedy packing. One place wires the stages so the CLI
  * (`Main pipeline`) and PipelineSpec exercise the SAME composition.
  *
  * The scrubbed, exact-dedup, and kept frames are persisted for the run:
  * the quality regexes + redaction projection feed both sides of the
  * near-dup self-join, the canonical anti-join, and the containment index,
  * and kept feeds both outputs — without the persists the regex chain
  * re-executes ~5x per run (CLAUDE.md round-1 lesson: persist the
  * derivation a self-join consumes twice). Call [[Result.unpersist]] when
  * done.
  */
object Pipeline {

  final case class Config(
      evalSources: Seq[String] = Nil,
      /** near-dup fold threshold (exact word-shingle Jaccard) */
      jaccardThreshold: Double = 0.8,
      /** pack budget in characters of `text` (in BPE TOKENS when
        * `packBpeMerges` > 0)
        */
      budget: Int = 4096,
      /** leakage-free holdout: when set, the corpus gains
        * (split_rep, split) columns via [[Split.leakFreeSplit]] over the
        * SAME reranked pair list the dedup stage mined (zero extra
        * mining), and the packing key gains the split component so no
        * pack ever crosses the train/val boundary
        */
      valPermille: Option[Int] = None,
      /** the split's "related" bar (exact word-shingle Jaccard): pairs at
        * or above it must not straddle train/val. Deliberately BELOW the
        * fold threshold — duplicates above jaccardThreshold are already
        * folded to one survivor, so the split's job is the merely-similar
        * band [splitJaccard, jaccardThreshold): those pairs both survive
        * dedup and would leak across a naive per-doc split. Must be >=
        * the miner's candidate floor (0.2) to appear in the reranked set.
        */
      splitJaccard: Double = 0.5,
      /** training-mix downsampling: when set, the train side (the whole
        * corpus if no split) is thinned to this expected row count with
        * [[SourceMix.temperatureSample]] sqrt-temperature shares;
        * validation rows are never thinned
        */
      mixTargetRows: Option[Long] = None,
      /** token-budget epoch planning: when set, the train side is
        * expanded/thinned to this expected CHARACTER total with
        * [[EpochPlan.epochSample]] (whole-epoch repeats + fractional
        * remainder per source, sqrt-temperature shares; length(text) is
        * the token proxy) and the corpus gains a 1-based `epoch`
        * column. Validation rows are never repeated or thinned (their
        * epoch is the constant 1). Alternative to `mixTargetRows` —
        * epochs generalize thinning, so setting both is refused.
        */
      epochBudgetTokens: Option[Long] = None,
      /** training-order materialization: when set, the shipped corpus
        * gains (shard, ord) columns via [[TrainOrder.trainOrder]] — a
        * deterministic global shuffle with this many range shards (the
        * per-task sort bound). With epochs on, the order key covers
        * (doc_id, epoch) so the copies of a repeated document scatter
        * across the run instead of training back-to-back.
        */
      orderShards: Option[Int] = None,
      /** per-source adaptive length calibration: when set, each TRAIN
        * source's bottom p-fraction by post-scrub `length(text)` is
        * dropped via [[Calibration.filterCalibrated]] before dedup — the
        * per-source refinement of the quality gate's global length floor.
        * Eval sources are never calibrated (thinning the eval set would
        * weaken decontamination). NULL-source train rows drop at this
        * stage (the [[Calibration]] contract: no group, no budget to
        * calibrate against). Funnel note: the drop surfaces between
        * the `scrubbed` and `exact_dedup` stages.
        */
      calibrateTrim: Option[Double] = None,
      /** model-based calibration score (round 6): when set together with
        * `calibrateTrim`, the per-source trim runs on an [[NgramLm]]
        * bigram log-likelihood score trained on THESE sources' post-scrub
        * text (the CCNet recipe: perplexity under a clean-reference LM)
        * instead of `length(text)`. The score is
        * `floor(mean-ll * 1000)` — millinats, integer, so the
        * calibration histogram stays bounded per the [[Calibration]]
        * contract; HIGHER = more reference-like, so the bottom
        * p-fraction trimmed per source is the least-fluent slice.
        * Zero-token docs have no measurable fluency -> NULL score ->
        * dropped by the calibration contract.
        */
      calibrateLmRefSources: Seq[String] = Nil,
      /** URL hygiene (round 6): when non-empty, rows whose `urlCol`
        * registrable domain ([[UrlOps.registrableDomain]] over the
        * canonical URL) is listed here are dropped FIRST — the standard
        * pre-dedup web-corpus gate. Requires the input to carry `urlCol`;
        * the drop surfaces in the funnel between the input and
        * `quality` stages. NULL urls are kept (no domain to judge —
        * route them through an explicit policy upstream if needed).
        */
      urlBlocklist: Seq[String] = Nil,
      urlCol: String = "url",
      /** token-budget packing (round 6 — closes the engine's own
        * `tokens array<int>` input contract end to end): when > 0, a
        * [[Bpe]] tokenizer with this many merges is trained on the TRAIN
        * side of the shipped corpus (post-quality, post-dedup text — the
        * tokenizer should see what ships; with epochs on, repeats weight
        * the counts toward what training actually consumes) and `budget`
        * is read as TOKENS: each pack item weighs
        * `size(Bpe.encode(text))` instead of `length(text)`. The trained
        * model ships in [[Result.bpe]] so downstream consumers encode
        * with the SAME vocabulary the packs were budgeted under. 0
        * (default) keeps the character budget.
        */
      packBpeMerges: Int = 0)

  /** `packed`'s `group` column is the composite (source, id-range
    * bucket) packing key; the parsed `source` and `bucket` columns are
    * exposed alongside it (round 3 — previously `group` was the source
    * alone).
    */
  final case class Result(
      nInput: Long,
      scrubbed: DataFrame,
      eval: Option[DataFrame],
      exact: DataFrame,
      pairs: DataFrame,
      canonical: DataFrame,
      kept: DataFrame,
      /** the frame the packs are built from and the corpus output to
        * ship: `kept` plus the optional split annotation and mix
        * thinning — identical to `kept` when both knobs are off
        */
      corpus: DataFrame,
      /** `corpus` BEFORE the optional order stage (identical when
        * `orderShards` is off): same row multiset minus the (shard, ord)
        * annotation — the frame to consume when only counts or contents
        * matter, so the order stage's shuffle + per-shard sort + offset
        * join never ride a job that ignores ordering
        */
      corpusPreOrder: DataFrame,
      packed: DataFrame,
      miner: Cached[DataFrame],
      /** the tokenizer the packs were budgeted under (Some iff
        * `packBpeMerges` > 0) — downstream encode must use this model,
        * not a retrain, or token counts drift from the pack budgets
        */
      bpe: Option[Bpe.Model] = None) {
    def unpersist(): Unit = {
      scrubbed.unpersist(); exact.unpersist(); kept.unpersist()
      miner.close()
    }
  }

  /** The miner's candidate floor: pairs below this estimated Jaccard
    * never enter the reranked set (the `minJaccard` passed to
    * [[Dedup.minhashCandidates]] below), so no downstream filter can
    * see them.
    */
  val MiningFloor: Double = 0.2

  /** Eval-in-train n-gram containment threshold of the decontamination
    * stage.
    */
  private val ContainmentThreshold = 0.8

  /** Id-range width of the packing key's bucket component
    * ([[Packing.bucketKey]]): packs never cross a bucket, so parallelism
    * is #sources x #occupied-buckets.
    */
  private val IdsPerBucket = 100000L

  def run(docs: DataFrame, cfg: Config = Config()): Result = {
    // enforce the documented contract (round-6 ADVICE): a splitJaccard
    // below the mining floor would silently miss every pair in
    // [splitJaccard, MiningFloor) and weaken the leak-free guarantee
    // without any error. Only meaningful when the split knob is on.
    require(cfg.valPermille.isEmpty || cfg.splitJaccard >= MiningFloor,
      s"splitJaccard=${cfg.splitJaccard} is below the miner's candidate " +
        s"floor ($MiningFloor): pairs under the floor are never mined, so " +
        "the leak-free split could not honor that bar. Raise splitJaccard " +
        s"to >= $MiningFloor.")
    val nInput = docs.count()

    // URL-domain blocklist gate FIRST (pre-quality): web-corpus hygiene
    // runs before any text-based judgement
    val gated = if (cfg.urlBlocklist.isEmpty) docs else {
      require(docs.columns.contains(cfg.urlCol),
        s"urlBlocklist set but input has no '${cfg.urlCol}' column")
      UrlOps.filterBlocked(docs, cfg.urlCol, cfg.urlBlocklist)
    }

    val clean = QualityFilter.filter(gated, "text")
    val scrubbed = Redaction.annotate(clean, "text")
      .withColumn("text", col("text_redacted"))
      .drop("text_redacted")
      .persist(StorageLevel.MEMORY_AND_DISK)

    val (train0, eval) =
      if (cfg.evalSources.isEmpty) (scrubbed, None)
      else (scrubbed.filter(!col("source").isin(cfg.evalSources: _*)),
        Some(scrubbed.filter(col("source").isin(cfg.evalSources: _*))))

    val train = cfg.calibrateTrim match {
      case None => train0
      case Some(p) =>
        val scored =
          if (cfg.calibrateLmRefSources.isEmpty)
            train0.withColumn("__cal_score", length(col("text")))
          else {
            val lm = NgramLm.train(
              train0.filter(col("source").isin(cfg.calibrateLmRefSources: _*)),
              "text")
            // an empty/blank reference slice trains a vacuous LM whose
            // flat scores silently turn the trim into a no-op — refuse
            require(lm.totalTokens > 0,
              s"calibrateLmRefSources ${cfg.calibrateLmRefSources} hold no " +
                "post-scrub text to train the reference LM on")
            val s = NgramLm.stats(col("text"), lm)
            train0.withColumn("__cal_score",
              when(s.getField("n_tok") === 0, lit(null).cast("long"))
                .otherwise(floor(s.getField("ll") / s.getField("n_tok")
                  * lit(1000.0)).cast("long")))
          }
        Calibration.filterCalibrated(scored, "source", "__cal_score", p)
          .drop("__cal_score")
    }

    val exactH = Dedup.dropExactDuplicates(train, "text", "doc_id")
    val exact = exactH.value.persist(StorageLevel.MEMORY_AND_DISK)

    // the miners persist the banded signature tables (one shingle pass
    // feeds both self-join sides) and the candidate pair set (feeds the
    // touched-id prune + both rerank joins); Result.unpersist closes all
    // of them
    val mined = Dedup.minhashCandidates(exact, "text", "doc_id",
      bands = 16, minJaccard = MiningFloor)
    val reranked = Dedup.ngramJaccard(exact,
      mined.value.select("id_a", "id_b"), "text", "doc_id")
    val miner = Cached(mined.value,
      exactH.handles ++ mined.handles ++ reranked.handles)
    val pairs = reranked.value
      .filter(col("jaccard") >= cfg.jaccardThreshold)

    val canonical = exact.join(
      Components.connectedComponents(pairs, "id_a", "id_b")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")

    // kept feeds both pipeline outputs (the packs AND the corpus write) —
    // persisted so the rerank + anti-join lineage runs once
    val kept = (eval match {
      case None => canonical
      case Some(ev) =>
        canonical.join(
          Decontamination.containmentPairs(canonical, ev, "text", "doc_id",
              minContainment = ContainmentThreshold)
            .select(col("train_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
    }).persist(StorageLevel.MEMORY_AND_DISK)

    // optional holdout assignment over the CACHED rerank (zero extra
    // mining) at the split's own, LOWER bar: >= jaccardThreshold pairs
    // were already folded to one survivor, so the leakage risk lives in
    // the merely-similar band [splitJaccard, fold) whose pairs both
    // survive dedup. Components run over the full pair graph including
    // folded ids, so two survivors connected THROUGH a folded doc still
    // share a representative (and therefore a side).
    val withSplit = cfg.valPermille match {
      case None => kept
      case Some(v) =>
        val splitPairs = reranked.value
          .filter(col("jaccard") >= cfg.splitJaccard)
          .select(col("id_a"), col("id_b"))
        Split.leakFreeSplit(kept, "doc_id", splitPairs, v)
    }
    // optional training-mix thinning; validation rows are never thinned
    // (an eval set must stay complete)
    require(!(cfg.mixTargetRows.isDefined && cfg.epochBudgetTokens.isDefined),
      "mixTargetRows and epochBudgetTokens are alternative recipe " +
        "samplers (epochs generalize thinning); set at most one")
    val mixed = cfg.mixTargetRows match {
      case None => withSplit
      case Some(t) if cfg.valPermille.isDefined =>
        withSplit.filter(col("split") === "val").unionByName(
          SourceMix.temperatureSample(
            withSplit.filter(col("split") === "train"), "doc_id", "source", t))
      case Some(t) =>
        SourceMix.temperatureSample(withSplit, "doc_id", "source", t)
    }
    // optional token-budget epoch planning (the budget-driven
    // generalization of mix thinning: whole-epoch repeats + fractional
    // remainder per source). An epoch-repeated doc packs as two items
    // with the same doc_id — pack seq_ids then carry the id once per
    // epoch, by design. Validation rows keep epoch = 1.
    val corpus0 = cfg.epochBudgetTokens match {
      case None => mixed
      case Some(b) =>
        def expand(df: DataFrame): DataFrame =
          EpochPlan.epochSample(
            df.withColumn("__n_tok", length(col("text")).cast("long")),
            "doc_id", "source", "__n_tok", b).drop("__n_tok")
        if (cfg.valPermille.isDefined)
          mixed.filter(col("split") === "val").withColumn("epoch", lit(1L))
            .unionByName(expand(mixed.filter(col("split") === "train")))
        else expand(mixed)
    }
    // optional deterministic global shuffle of the shipped corpus; with
    // epochs the key covers (doc_id, epoch) — same doc, different
    // positions per epoch — and epoch breaks the rank tie
    val corpus = cfg.orderShards match {
      case None => corpus0
      case Some(s) if cfg.epochBudgetTokens.isDefined =>
        TrainOrder.trainOrder(corpus0, "doc_id", s,
          mixKey = Some(pmod(
            xxhash64(lit(0x73687566L), col("doc_id"), col("epoch")),
            lit(TrainOrder.M))),
          tieCols = Seq("epoch"))
      case Some(s) => TrainOrder.trainOrder(corpus0, "doc_id", s)
    }

    // corpus-scale packing key: (source, id-range bucket) — parallelism
    // #sources x #buckets, not #sources (Packing.bucketKey). With a
    // split, the key leads with the split side so no pack crosses the
    // train/val boundary (the parsed `source` column then reads
    // "train#src0"). The raw composite key is internal; `packed` exposes
    // the parsed source and bucket columns alongside it.
    val packBy =
      if (cfg.valPermille.isDefined)
        concat_ws("#", col("split"), col("source"))
      else col("source")
    val (packSrc, packBucket) = Packing.parseBucketKey(col("group"))
    // token-budget packing: train the tokenizer on the train side of the
    // shipped corpus (never the val side — its text is none of the
    // tokenizer's business, same asymmetry as mix/epoch/calibration)
    val bpe =
      if (cfg.packBpeMerges > 0) {
        val trainSide =
          if (cfg.valPermille.isDefined) corpus0.filter(col("split") === "train")
          else corpus0
        Some(Bpe.train(trainSide, "text", cfg.packBpeMerges))
      } else None
    val packLen = bpe match {
      case Some(m) => size(Bpe.encode(col("text"), m)).cast("long")
      case None => length(col("text")).cast("long")
    }
    // packs build from the PRE-order frame: packing regroups anyway, and
    // consuming `corpus` here would drag the order stage's offset join
    // into the packing plan for columns packs never read
    val packed = Packing.packGreedy(
        corpus0.withColumn("len", packLen)
          .withColumn("__pack_grp",
            Packing.bucketKey(packBy, col("doc_id"), IdsPerBucket)),
        "__pack_grp", "doc_id", "len", cfg.budget)
      .withColumn("source", packSrc)
      .withColumn("bucket", packBucket)

    Result(nInput, scrubbed, eval, exact, pairs, canonical, kept, corpus,
      corpus0, packed, miner, bpe)
  }

  /** Per-source funnel over a run: one row per (source, stage) with the
    * surviving document count — the attribution view that answers "which
    * stage ate source X" without re-running anything. The grid is
    * COMPLETE over the sources seen at stage 1: a source fully
    * eliminated later reports an explicit `n_docs = 0` there (absence
    * would be indistinguishable from the source never having existed).
    * `scrubbed` counts every post-quality doc; eval sources exit after
    * it (they leave at the eval split, by design, so they read 0 from
    * stage 2 on); per source the counts are non-increasing through
    * `decontaminated`, and `shipped` can exceed it when epoch repeats
    * are on. Cheap by construction: every stage frame is either
    * persisted by [[run]] or a narrow derivation of one, each count is
    * a sources-sized map-side partial groupBy, and `shipped` counts the
    * PRE-order frame — ordering is pinned row-multiset-preserving, and
    * counting `corpus` would drag the order stage's shuffle + per-shard
    * sort + offset join into a counts-only job.
    */
  def sourceFunnel(res: Result): DataFrame =
    funnelGrid(Seq(
      (1, "scrubbed", res.scrubbed), (2, "exact_dedup", res.exact),
      (3, "near_dedup", res.canonical), (4, "decontaminated", res.kept),
      (5, "shipped", res.corpusPreOrder)), gridSource = res.scrubbed)

  /** [[sourceFunnel]]'s (source, stage) survivor grid. COMPLETE over the
    * sources seen in `gridSource`, explicit zeros, and a NULL-SAFE
    * source match: a NULL-source row group must match its own grid row,
    * not read 0 at every stage (EqualTo never matches NULL). The
    * streaming funnel needs no grid: it counts every stage in one
    * aggregate over its per-batch decision frame.
    */
  private def funnelGrid(stages: Seq[(Int, String, DataFrame)],
                         gridSource: DataFrame): DataFrame = {
    val counts = stages.map { case (idx, name, df) =>
      df.groupBy(col("source")).agg(count(lit(1)).as("__n"))
        .withColumn("stage_idx", lit(idx)).withColumn("stage", lit(name))
    }.reduce(_ unionByName _)
    val spark = gridSource.sparkSession
    import spark.implicits._
    val grid = gridSource.select(col("source")).distinct()
      .crossJoin(stages.map(s => (s._1, s._2)).toDF("stage_idx", "stage"))
    grid.as("g").join(counts.as("c"),
        col("g.source") <=> col("c.source") &&
          col("g.stage_idx") === col("c.stage_idx"), "left")
      .select(col("g.source"), col("g.stage_idx"), col("g.stage"),
        coalesce(col("c.__n"), lit(0L)).as("n_docs"))
  }
}
