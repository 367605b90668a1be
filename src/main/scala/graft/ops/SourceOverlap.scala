package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pairwise source-overlap matrix — the corpus-diversity audit a
  * training-data recipe needs before mixing: for every pair of sources,
  * the Jaccard similarity of their distinct word-shingle sets. High
  * overlap between two "different" sources means the mix double-counts
  * the same content (a mirror, a re-crawl, a shared boilerplate corpus);
  * near-zero overlap against a benchmark source is the clean-room check.
  *
  * Shape (no self-join over the corpus, no windows, ONE corpus pass):
  *
  *  1. explode shingle hashes, groupBy hash, collect_set(source) — one
  *     shuffle of narrow (long, string) rows; per-hash state is bounded
  *     by the source CATALOG (not data);
  *  2. each hash emits its source pairs INCLUDING self-pairs (a <= b)
  *     and a groupBy(pair) counts co-occurrences — the diagonal
  *     co(s, s) is exactly |S|, so set sizes and intersections are two
  *     filters of one sources^2-sized frame. No shingle ever meets
  *     another shingle: the only joins are sources^2-sized broadcasts
  *     of the diagonal back onto the off-diagonal.
  *
  * Jaccard(a, b) = |A ∩ B| / (|A| + |B| - |A ∩ B|). Pairs with an
  * empty intersection are absent from the output (they never co-occur
  * under any hash), which the oracle's inner join mirrors.
  *
  * Hashes stand in for shingle strings on the Spark side (the oracle
  * intersects the strings themselves): a 64-bit collision would merge
  * two distinct shingles, but at S distinct shingles the expected
  * collision count is S^2/2^65 — immaterial below ~10^8 distinct
  * shingles per comparison, and the hash space is per-corpus, not
  * per-pair. At 10^12-doc scale, swap ShingleHashes for a 128-bit
  * variant; the plan shape is unchanged.
  *
  * 100-TB posture: the wide text column is read once and never
  * shuffled (only (source, hash) rows cross the wire); the hot
  * aggregation keys are shingle hashes (uniform by construction, no
  * skew); per-hash state is catalog-bounded; the pair table is
  * sources^2 — a catalog cross, not a data cross.
  */
object SourceOverlap {

  /** The overlap matrix over `df`'s `textCol`, one row per unordered
    * source pair with a shared shingle: (source_a, source_b,
    * intersect_sh, union_sh, jaccard), source_a < source_b.
    *
    * Set sizes ride the SAME aggregation as intersections: the pair
    * explosion keeps self-pairs (a <= b), so the diagonal co(s, s) IS
    * |S| (collect_set already deduped sources per hash). Sizes and
    * intersections are then two filters of one sources^2-sized frame —
    * persisted so the corpus pass, the per-hash
    * aggregation, and the pair count all run exactly once no matter how
    * many consumers the matrix has. The returned [[Cached]] handle
    * unpersists it deterministically (same contract as the dedup
    * miners).
    */
  def overlapMatrix(df: DataFrame, textCol: String, sourceCol: String,
                    shingleK: Int = 3): Cached[DataFrame] = {
    val co = df
      .select(col(sourceCol).as("__src"),
        explode(TextOps.shingles(col(textCol), shingleK)).as("__h"))
      .groupBy(col("__h"))
      // per-hash state is bounded by the source CATALOG, not data
      // (no sort: the a <= b filter below canonicalizes pairs and the
      // pair count is order-insensitive)
      .agg(collect_set(col("__src")).as("__ss"))
      .select(explode(col("__ss")).as("source_a"), col("__ss"))
      .select(col("source_a"), explode(col("__ss")).as("source_b"))
      .filter(col("source_a") <= col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("__co"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizeA = co.filter(col("source_a") === col("source_b"))
      .select(col("source_a"), col("__co").as("__na"))
    val sizeB = sizeA.select(col("source_a").as("source_b"),
      col("__na").as("__nb"))
    val out = co.filter(col("source_a") < col("source_b"))
      .withColumnRenamed("__co", "intersect_sh")
      .join(broadcast(sizeA), Seq("source_a"))
      .join(broadcast(sizeB), Seq("source_b"))
      .withColumn("union_sh", col("__na") + col("__nb") - col("intersect_sh"))
      .select(col("source_a"), col("source_b"), col("intersect_sh"),
        col("union_sh"),
        round(col("intersect_sh").cast("double") / col("union_sh"), 6)
          .as("jaccard"))
    Cached(out, Seq(co))
  }
}
