package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths:
  *  - brute-force cosine top-k: one scan, codegen'd zip_with/aggregate dot
  *    product, TakeOrderedAndProject (never a full sort) — the exactness
  *    baseline;
  *  - random-hyperplane LSH buckets: deterministic signature from a seeded
  *    hyperplane set; candidates share a bucket, reranked exactly. The
  *    scale path: the bucket join touches ~1/2^planes of the pairs.
  */
object Similarity {

  /** dot(a, b) over array columns, in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native one-walk expression; bit-identical to
    * [[cosineComposed]] (pinned by NativeExprsSpec).
    */
  def cosine(a: Column, b: Column): Column = CosineSim.cosine_sim(a, b)

  /** Composed-builtins twin of [[cosine]]: three interpreted folds. */
  private[graft] def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random hyperplanes: component j of plane p is a
    * signed unit from xxhash64(seed, p, j). The signature packs the sign
    * bits of the `planes` dot products into one long — equal signatures =
    * same LSH bucket (cosine-LSH, Charikar 2002). Native single-loop
    * expression; bit-identical to [[rhpSignatureComposed]] (pinned by
    * NativeExprsSpec).
    */
  def rhpSignature(vec: Column, planes: Int, seed: Long): Column =
    RhpSignature.rhp_signature(vec, planes, seed)

  /** The composed-builtins formulation of [[rhpSignature]] — the semantic
    * definition the native expression must match; planes*dim interpreted
    * lambdas with a full xxhash64 chain each.
    */
  private[graft] def rhpSignatureComposed(vec: Column, planes: Int, seed: Long): Column = {
    val bits = (0 until planes).map { p =>
      // dot(v, h_p) where h_p(j) in {-1,+1} derived from a hash of (seed,p,j)
      val dotP = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast("double") *
            when(pmod(xxhash64(lit(seed), lit(p), j), lit(2)) === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, v) => acc + v)
      when(dotP >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Degenerate similarities must never RANK: CosineSim yields NaN on
    * zero norms (deliberate — ANSI division would throw) and NULL on
    * length mismatch / null elements. NaN compares false against any
    * THRESHOLD (so `embeddingNearDups` is safe as-is), but Spark sorts
    * NaN GREATER than every double — under `cosine.desc` a zero-norm
    * vector would rank #1 in every top-k. Every ranking path filters
    * them out first (isnan(null) is null, so the filter drops NULL
    * cosines too).
    */
  private[ops] def rankable(cosine: Column): Column = !isnan(cosine)

  /** Exact brute-force top-k cosine neighbors of one query vector.
    * The orderBy+limit plans as TakeOrderedAndProject: per-partition
    * heaps, no global sort.
    */
  def bruteTopK(df: DataFrame, vecCol: String, idCol: String,
                query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .filter(rankable(col("cosine")))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** ANN top-k: probe every vector whose LSH bucket is within
    * `multiProbe` flipped bits of the query's bucket (multi-probe LSH,
    * Lv et al. VLDB'07 — one signature table probed at Hamming <=
    * multiProbe instead of many tables), rerank the probed candidates
    * exactly. multiProbe = 0 is the classic single-bucket probe; each
    * increment multiplies the probed buckets by ~planes/level and lifts
    * recall accordingly. The probed signature set (sum_{i<=m} C(planes,i)
    * values) is enumerated driver-side and pushed as an IN filter, so the
    * scan stays a single filtered pass. Returns the same schema as
    * [[bruteTopK]].
    */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
              query: Seq[Float], k: Int, planes: Int = 12,
              multiProbe: Int = 0, seed: Long = 7L): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= planes,
      "multiProbe must be in [0, planes]")
    val q = array(query.map(v => lit(v)): _*)
    val bucketed = df.withColumn("__sig", rhpSignature(col(vecCol), planes, seed))
    // driver-side: one in-memory vector through the same static compute
    // body the expression uses — the earlier range(1)+collect paid a full
    // job-scheduling round trip per query
    val querySig: Long = RhpSignature.computeDriver(query, planes, seed)
    val probes: Seq[Long] = (0 to multiProbe).flatMap { m =>
      (0 until planes).combinations(m).map { bits =>
        bits.foldLeft(querySig)((s, b) => s ^ (1L << b))
      }
    }
    bucketed.filter(col("__sig").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .filter(rankable(col("cosine")))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs top-k per id via multi-table RHP-LSH buckets (batch kNN
    * for near-dup mining): returns (id, neighbor_id, cosine) with
    * rank <= k within the bucket-restricted candidate set. Shares
    * [[Dedup.rhpBuckets]] with `embeddingNearDups`: `tables` independent
    * OR'd signature tables close the single-table recall hole (one
    * 10-plane table finds a cosine-0.9 neighbor with probability ~0.29 —
    * the round-2 shape this replaced), and degenerate buckets are capped
    * before the B²/2 pair blowup. Candidate pairs are mined UNDIRECTED
    * (id_a < id_b, one cosine per pair) and mirrored before the per-id
    * rank, so each pair's cosine is computed once.
    */
  def bucketedKnn(df: DataFrame, vecCol: String, idCol: String,
                  k: Int, planes: Int = 8, tables: Int = 8,
                  seed: Long = 7L): Cached[DataFrame] = {
    // same guard as Dedup.exactGroups: past the threshold Catalyst skips
    // the partial WindowGroupLimit rewrite and the per-id rank degrades
    // to the unbounded single-partition window (hot-id straggler)
    val threshold = df.sparkSession.sessionState.conf
      .getConfString("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
      .toLong
    require(k >= 1 && k < threshold,
      s"k ($k) must be in [1, windowGroupLimitThreshold $threshold) — " +
        "raise the conf alongside k if a bigger neighborhood is needed")
    val pruned = Dedup.rhpBuckets(df, vecCol, idCol, planes, tables, seed)
    val l = pruned.value.alias("l"); val r = pruned.value.alias("r")
    // Mirror each bucket-local pair into BOTH directions with one explode
    // (a union of two selects would embed the join subtree twice — and
    // with no exchange between join and union, run the bucket join twice).
    // A pair sharing several tables appears once per shared table; those
    // duplicates carry bit-identical cosines (same two vectors, same
    // fold), so instead of a full-width dropDuplicates exchange over the
    // pair set (the pre-round-7 shape: the candidate volume crossed the
    // wire twice — once to dedup, once to rank), rank with dense_rank:
    // duplicate (cosine, neighbor_id) sort keys share a rank, so
    // dense_rank over the raw mirrored stream equals row_number over the
    // deduped stream, and the partial WindowGroupLimit (pinned by
    // PlanSpec) trims to rank <= k per map partition BEFORE the only
    // exchange. The residual duplicates inside the surviving top-k are
    // collapsed by a dropDuplicates over <= n*k rows.
    val mirrored = l.join(r,
        col("l.t") === col("r.t") && col("l.blk") === col("r.blk") &&
          col("l.id") < col("r.id"))
      .select(explode(array(
        struct(col("l.id").as("id"), col("r.id").as("neighbor_id"),
          cosine(col("l.v"), col("r.v")).as("cosine")),
        struct(col("r.id").as("id"), col("l.id").as("neighbor_id"),
          cosine(col("l.v"), col("r.v")).as("cosine")))).as("e"))
      .select(col("e.id").as("id"), col("e.neighbor_id").as("neighbor_id"),
        col("e.cosine").as("cosine"))
      .filter(rankable(col("cosine")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cosine").desc, col("neighbor_id"))
    pruned.copy(value = mirrored
      .withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= k)
      .dropDuplicates("id", "neighbor_id"))
  }
}
