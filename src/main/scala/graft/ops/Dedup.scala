package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for web-scale corpora. All are expressed as
  * declarative plans (hash aggregates + explode/band joins) so Catalyst
  * keeps partial aggregation map-side and AQE handles skew; nothing
  * collects to the driver.
  *
  * Caching note: the candidate-mining functions persist their narrow
  * signature tables (id + a few longs per doc) so the corpus is
  * shingled/hashed ONCE instead of once per join side, and return a
  * [[Cached]] handle: consume `value`, then `close()` to unpersist
  * deterministically (what Pipeline does), or deliberately leak the
  * tables for the session (what the query battery does, so later plans
  * can ride the cache until `spark.catalog.clearCache()`). Exact dedup
  * persists its narrow hash table the same way; [[Cached]] lists every
  * operator under this contract.
  */
object Dedup {

  /** Chain-reseed constant for the SECOND independent content hash (an
    * arbitrary odd 64-bit constant; value is frozen — it defines every
    * persisted hash index).
    */
  private[graft] val HashSeed2 = 0x517cc1b727220a95L

  /** Second independent 64-bit content hash. The literal goes FIRST:
    * Spark's variadic xxhash64 folds `hash = XXH64(child, hash)` left to
    * right, so `xxhash64(lit, text)` hashes the text under the derived
    * seed XXH64(lit, 42) — a genuinely different hash function. (The
    * tempting `xxhash64(text, lit)` chains the literal AFTER the text
    * fold, making it a pure function of xxhash64(text): any h1 collision
    * would collide h2 too, adding ZERO resistance.)
    */
  private[graft] def contentHash2(text: Column): Column =
    org.apache.spark.sql.functions.xxhash64(lit(HashSeed2), text)

  /** Ids sampled per exact duplicate group ([[exactGroups]]' `all_ids`). */
  private val MaxIds = 256

  /** Exact duplicate groups: (dup_hash, dup_hash2, n, keep_id, all_ids),
    * one row per content with more than one occurrence. Groups by TWO
    * independent 64-bit content hashes, NOT the text itself: at corpus
    * scale the full body must never become shuffle-key material (only ids
    * and two longs cross the wire). A single 64-bit key meets the
    * birthday bound at ~10^12 rows (~10^4 expected false merges — round-4
    * VERDICT); the (h1, h2) pair is ~2^-128 per pair, negligible at any
    * physical corpus size, still payload-free.
    * `keep` picks the minimum id as the canonical representative.
    *
    * `all_ids` holds the [[MaxIds]] SMALLEST ids of the group (ascending).
    * An unbounded collect_list of a mega-duplicated content (a boiler-
    * plate page occurring 1e8 times) would build a 1e8-element array in
    * one aggregation buffer; instead the ids ride a `row_number <= MaxIds`
    * window whose rank filter becomes a partial WindowGroupLimit — each
    * map partition forwards at most MaxIds rows per content (the shape
    * PlanSpec pins on the q08/q38 rank windows). `n` stays the
    * EXACT group size (its count is a plain partial-aggregated groupBy).
    * MaxIds stays below spark.sql.optimizer.windowGroupLimitThreshold
    * (1000 in this build) — past it Catalyst skips the rewrite and the
    * window degrades to the unbounded single-partition shape. (The rule
    * also correctly skips when the child's row count is statically known
    * to be <= the limit — a tiny LocalRelation won't show the node.)
    */
  def exactGroups(df: DataFrame, text: Column, id: Column): Cached[DataFrame] = {
    val threshold = df.sparkSession.sessionState.conf
      .getConfString("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
      .toLong
    require(MaxIds < threshold,
      s"MaxIds ($MaxIds) must stay below " +
        s"spark.sql.optimizer.windowGroupLimitThreshold ($threshold): past " +
        "it Catalyst skips the WindowGroupLimit rewrite and the id sample " +
        "degrades to an unbounded single-partition window")
    // persisted so the stats and sample subplans share one scan + hash
    // pass (narrow (hash, hash2, id) rows)
    val hashed = df.select(xxhash64(text).as("dup_hash"),
        contentHash2(text).as("dup_hash2"), id.as("__id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keys = Seq(col("dup_hash"), col("dup_hash2"))
    val stats = hashed.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), min(col("__id")).as("keep_id"))
      .filter(col("n") > 1)
    val w = Window.partitionBy(keys: _*).orderBy(col("__id"))
    val sampled = hashed
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= MaxIds)
      .groupBy(keys: _*)
      .agg(sort_array(collect_list(col("__id"))).as("all_ids"))
    Cached(stats.join(sampled, Seq("dup_hash", "dup_hash2"))
      .select(col("dup_hash"), col("dup_hash2"), col("n"), col("keep_id"),
        col("all_ids")),
      Seq(hashed))
  }

  /** Exact dedup keeping the minimum id per content key (idCol must be
    * unique). Grouping by TWO independent 64-bit content hashes (not the
    * text itself) keeps shuffle rows narrow (24 bytes); the joint
    * collision probability is ~2^-128 per pair — the single-hash shape's
    * birthday bound (~10^4 expected false drops at 10^12 rows) is gone
    * while the payload-free plan is unchanged.
    *
    * The keep decision is made entirely on the narrow (hash, hash2, id)
    * projection: a groupBy (map-side partial aggregation — a mega-
    * duplicated content collapses inside each input partition, no by-key
    * window straggler) finds the duplicated hashes and their min id, a
    * narrow-narrow join expands those groups to the NON-minimal ids, and
    * the full frame anti-joins that drop set. On a mostly-unique corpus
    * the drop set is small — AQE broadcasts it and the document bodies
    * never enter ANY exchange (the round-3 shape shuffled the full row,
    * text included, through a window over the hash: ~the whole corpus
    * crossed the wire). Pinned in PlanSpec: no text column in any
    * exchange of this plan.
    *
    * The narrow projection feeds two subplans (the group stats and the
    * drop-id expansion); it is persisted (16 bytes/row) so the text
    * column is scanned and hashed ONCE — close() the handle after the
    * dedup output is consumed.
    */
  def dropExactDuplicates(df: DataFrame, textCol: String,
                          idCol: String): Cached[DataFrame] = {
    val hashed = df.select(xxhash64(col(textCol)).as("__h"),
        contentHash2(col(textCol)).as("__h2"), col(idCol).as("__id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dupGroups = hashed.groupBy(col("__h"), col("__h2"))
      .agg(count(lit(1)).as("__n"), min(col("__id")).as("__keep"))
      .filter(col("__n") > 1)
      .select(col("__h"), col("__h2"), col("__keep"))
    val dropIds = hashed.join(dupGroups, Seq("__h", "__h2"))
      .filter(col("__id") =!= col("__keep"))
      .select(col("__id"))
    // frame-qualified join refs: an input that itself carries a "__id"
    // column must not make the anti-join condition ambiguous (the same
    // collision class as round-2's cutSpans idCol bug)
    Cached(df.join(dropIds, df(idCol) === dropIds("__id"), "left_anti"),
      Seq(hashed))
  }

  /** MinHash signature: `perms` independent min-hashes over the shingle
    * set (standard construction). Delegates to the native [[MinHash64]]
    * expression — one tight loop per row instead of perms*n interpreted
    * lambda evaluations. Returns array<bigint> of length `perms`.
    */
  def minhashSignature(shingleHashes: Column, perms: Int = 32): Column =
    MinHash64.minhash(shingleHashes, perms)

  /** LSH banding: split the signature into `bands` bands of equal width
    * and hash each band; two docs sharing ANY band hash are candidates.
    * Returns the input with an exploded (band, band_hash) pair per row —
    * group on these to find candidate buckets.
    */
  def lshBands(sig: Column, bands: Int, perms: Int): Column = {
    // bands > perms would make rowsPerBand 0: every doc gets ONE constant
    // band hash, capBuckets prunes the single giant bucket, and mining
    // silently returns zero pairs; a non-divisible split would silently
    // drop the trailing signature positions from banding
    require(bands >= 1 && bands <= perms && perms % bands == 0,
      s"bands ($bands) must divide perms ($perms) with bands <= perms")
    val rowsPerBand = perms / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).cast("string")).as("band_hash")))
  }

  /** Ids per (band, band_hash) bucket of [[minhashCandidates]]; larger
    * buckets are dropped.
    */
  private val MinhashMaxBucket = 64

  /** Near-duplicate candidate pairs via MinHash+LSH over word shingles.
    * Pipeline: shingle -> minhash -> band -> self-join within buckets ->
    * exact-Jaccard rerank on the signatures. The band groupBy is the only
    * shuffle of full signatures; the pair join is bucket-local.
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        shingleK: Int = 3, perms: Int = 32, bands: Int = 8,
                        minJaccard: Double = 0.5): Cached[DataFrame] = {
    val sigs = df.select(col(idCol).as("id"),
        minhashSignature(TextOps.shingles(col(textCol), shingleK), perms).as("sig"))
      .withColumn("bandinfo", explode(lshBands(col("sig"), bands, perms)))
      .select(col("id"), col("sig"),
        col("bandinfo.band").as("band"), col("bandinfo.band_hash").as("band_hash"))

    // giant-bucket pruning (standard LSH practice): a band hash shared by
    // B docs generates B^2/2 pairs — degenerate buckets (boilerplate
    // shingles) would dominate the join without finding near-dups. One
    // window pass over the (band, band_hash) shuffle does it — no second
    // scan + agg + join.
    val pruned = capBuckets(sigs, Seq("band", "band_hash"), MinhashMaxBucket)

    // bucket-local pair generation: same (band, band_hash), id < id2;
    // est_jaccard is computed INSIDE the join and only narrow columns
    // survive into the pair-dedup shuffle
    val l = pruned.value.alias("l")
    val r = pruned.value.alias("r")
    // native agreement count: the composed zip_with/filter twin pays an
    // interpreted lambda per position per candidate pair (SigAgree doc)
    val agree = SigAgree.sig_agree(col("l.sig"), col("r.sig"))
    pruned.copy(value = l.join(r,
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        (agree / lit(perms.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
      .dropDuplicates("id_a", "id_b"))
  }

  /** Deterministic bit-partition masks for multi-table SimHash blocking:
    * `tables` independent partitions of the 64 signature bits into
    * `blocks` equal-width masks, shuffled by a self-contained
    * LCG Fisher-Yates (no dependence on scala.util.Random internals).
    * Table 0 with blocks=4 behaves like the classic contiguous split in
    * guarantee terms — any partition gives the pigeonhole property.
    */
  private[graft] def blockMasks(blocks: Int, tables: Int, seed: Long): Seq[Seq[Long]] = {
    val width = 64 / blocks
    (0 until tables).map { t =>
      val bits = Array.tabulate(64)(identity)
      var state = seed * 0x9E3779B97F4A7C15L + (t + 1) * 0xBF58476D1CE4E5B9L
      def nextInt(bound: Int): Int = {
        state = state * 6364136223846793005L + 1442695040888963407L
        (((state >>> 33) % bound + bound) % bound).toInt
      }
      var i = 63
      while (i > 0) {
        val j = nextInt(i + 1)
        val tmp = bits(i); bits(i) = bits(j); bits(j) = tmp
        i -= 1
      }
      (0 until blocks).map(b => bits.slice(b * width, (b + 1) * width)
        .foldLeft(0L)((m, bit) => m | (1L << bit)))
    }
  }

  /** SimHash near-duplicate candidates via multi-table block matching
    * (Manku et al., WWW'07): each of `tables` independent partitions
    * splits the 64 signature bits into `blocks` masks; docs are blocked
    * on (table, block, sig AND mask) — equal masked values means equal on
    * that block's bit positions, no bit-gathering needed. By pigeonhole,
    * any pair within Hamming distance `blocks - 1` shares a block in
    * EVERY table, so recall is guaranteed there; beyond it, each extra
    * table independently re-rolls the bit partition and catches pairs
    * whose differing bits straddle all blocks of the others (miss
    * probability ~(1 - P_onePartition)^tables). A per-bucket cap bounds
    * the B^2/2 pair blowup of degenerate blocks, mirroring
    * [[minhashCandidates]].
    */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 6, blocks: Int = 4,
                        tables: Int = 1, seed: Long = 7L,
                        maxBucket: Int = 256): Cached[DataFrame] = {
    require(blocks >= 1 && blocks <= 16, "blocks must be in [1, 16]")
    require(tables >= 1, "need at least one table")
    val masks = blockMasks(blocks, tables, seed)
    val pieces = for {
      t <- 0 until tables; b <- 0 until blocks
    } yield struct(lit(t * blocks + b).as("blk"),
      col("sig").bitwiseAND(lit(masks(t)(b))).as("key"))
    val sigs = df.select(col(idCol).as("id"),
        SimHash64.simhash(TextOps.shingles(col(textCol), 3)).as("sig"))
      .withColumn("piece", explode(array(pieces: _*)))
      .select(col("id"), col("sig"),
        col("piece.blk").as("blk"), col("piece.key").as("key"))
    val pruned = capBuckets(sigs, Seq("blk", "key"), maxBucket)
    val l = pruned.value.alias("l"); val r = pruned.value.alias("r")
    pruned.copy(value =
      l.join(r, col("l.blk") === col("r.blk") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          SimHash64.hamming(col("l.sig"), col("r.sig")).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .dropDuplicates("id_a", "id_b"))
  }

  /** Exact n-gram Jaccard similarity for given candidate id pairs
    * (rerank step after LSH blocking). Only PAIR-TOUCHED documents are
    * shingled: the (narrow) pairs frame is PERSISTED — it feeds the id
    * set, and both rerank joins — and a semi-join against the pairs' id
    * set (small — AQE broadcasts it) prunes the corpus before the
    * shingle projection, so the rerank cost scales with the candidate
    * set, not the corpus. Without the persist, deriving the id set from
    * the lazy pairs plan would re-run the whole candidate mining once
    * per consumer (measured 2x+ on q19).
    */
  def ngramJaccard(df: DataFrame, pairs: DataFrame, textCol: String,
                   idCol: String, k: Int = 3): Cached[DataFrame] = {
    // persist, NOT localCheckpoint: truncating here would shrink each
    // consumer's analysis tree but breaks cross-query plan-cache
    // matching on the pair set (checkpoint RDD ids differ per call) —
    // measured net +2.3 s across the mining family (riders q33/q44/q48
    // each re-shingle and re-rerank), see OPTIMIZATION_r07.md.
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val ids = p.select(col("id_a").as("__pid"))
      .unionByName(p.select(col("id_b").as("__pid")))
      .distinct()
    val touched = df.join(ids, col(idCol) === col("__pid"), "left_semi")
    // persisted: the shingle table feeds BOTH rerank joins (id_a and id_b
    // sides) — un-persisted it is shingled twice per rerank (two
    // broadcast builds of the same projection), and every downstream
    // consumer of the same pair mining (clusters, splits, audits)
    // re-shingles it again instead of riding the cache. Narrow rows
    // (id + distinct shingle hashes of pair-touched docs only).
    val sh = touched.select(col(idCol).as("id"),
        array_distinct(TextOps.shingles(col(textCol), k)).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    Cached(p
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"), col("jaccard")),
      Seq(p, sh))
  }

  /** Embedding near-duplicates: cosine >= threshold among candidate pairs
    * blocked by `tables` INDEPENDENT random-hyperplane signature tables
    * (seeds 7..7+tables-1), OR'd — the standard banded-LSH recall
    * amplification. A single table of p planes finds a pair at angle
    * theta with probability (1 - theta/pi)^p (~0.29 at cosine 0.9 with
    * p=8 — round-1's silent recall hole); b OR'd tables lift that to
    * 1 - (1 - q)^b. Candidate volume per table is ~n^2/2^p, so `planes`
    * trades recall against join size; scale corpora up by raising
    * `planes` and compensating with `tables`.
    */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
                        threshold: Double = 0.95, planes: Int = 8,
                        tables: Int = 16): Cached[DataFrame] = {
    val pruned = rhpBuckets(df, vecCol, idCol, planes, tables, seed = 7L)
    val l = pruned.value.alias("l"); val r = pruned.value.alias("r")
    // cosine is evaluated inside the bucket-local join (once per shared
    // table); only (id_a, id_b, cosine) survives into the pair dedup
    pruned.copy(value =
      l.join(r, col("l.t") === col("r.t") && col("l.blk") === col("r.blk") &&
          col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          Similarity.cosine(col("l.v"), col("r.v")).as("cosine"))
        .filter(col("cosine") >= threshold)
        .dropDuplicates("id_a", "id_b"))
  }

  /** The shared multi-table RHP blocking stage of [[embeddingNearDups]]
    * and [[Similarity.bucketedKnn]]: `tables` independent signature
    * tables (seeds seed..seed+tables-1), exploded to (id, v, t, blk)
    * rows, buckets above 2^20 ids capped.
    */
  private[ops] def rhpBuckets(df: DataFrame, vecCol: String, idCol: String,
                              planes: Int, tables: Int,
                              seed: Long): Cached[DataFrame] = {
    val sigStructs = (0 until tables).map { t =>
      struct(lit(t).as("t"),
        Similarity.rhpSignature(col("v"), planes, seed + t).as("blk"))
    }
    val sigs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("piece", explode(array(sigStructs: _*)))
      .select(col("id"), col("v"),
        col("piece.t").as("t"), col("piece.blk").as("blk"))
    capBuckets(sigs, Seq("t", "blk"), 1 << 20)
  }

  /** Drop buckets larger than `maxBucket` from the signature table.
    * Bucket sizes come from a `groupBy` — map-side PARTIAL aggregation
    * collapses a hot bucket's rows inside each input partition before
    * anything crosses the wire (a `Window.partitionBy` count — the
    * round-2 shape — pinned every occurrence of a boilerplate bucket key
    * into ONE partition: the same straggler class as round-3's DupSpans
    * fix). Over-cap keys are at most n/maxBucket rows and in practice a
    * handful; the anti-join against them is AQE-broadcast.
    *
    * TWO narrow tables are pinned: the raw signature rows (so the
    * corpus is shingled/hashed once — counts and cap read it) and the
    * capped frame REPARTITIONED by the bucket keys — the
    * pair self-join then needs NO exchange at all (both sides read the
    * co-partitioned cache), and because degenerate buckets are removed
    * BEFORE this one shuffle, no partition of it can be hot. Without the
    * pre-partitioned cache the join re-shuffles both of its sides
    * (round-3 interim shape: 2 exchanges of vector-bearing rows, ~2.5x
    * on q21).
    */
  private def capBuckets(sigs: DataFrame, keyNames: Seq[String],
                         maxBucket: Int): Cached[DataFrame] = {
    val keys = keyNames.map(col)
    val raw = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    val hot = raw.groupBy(keys: _*).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket)
      .select(keys: _*)
    val coPart = raw.join(hot, keyNames, "left_anti")
      .repartition(keys: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Cached(coPart, Seq(raw, coPart))
  }
}
