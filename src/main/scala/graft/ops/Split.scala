package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Leakage-free train/validation splitting — holdout assignment that
  * respects near-duplicate structure: a plain per-document hash split
  * leaks whenever a near-duplicate pair straddles the boundary (the
  * validation copy is effectively in the training set), silently
  * inflating eval scores. Here every document is assigned by hashing its
  * near-dup CLUSTER representative (the connected-component minimum id
  * over the reranked pair list; a document in no pair represents
  * itself), so both members of every pair — and transitively every
  * member of every cluster — land on the SAME side by construction.
  *
  * Deterministic: the assignment is a pure function of (ids, pair list,
  * valPermille), so reruns and retries produce the identical split and a
  * SQL oracle can reproduce it exactly (the default key is xxhash64-based;
  * graded queries pass [[multiplicativeKey]], which DuckDB can compute —
  * all integer arithmetic, see [[SourceMix]] for the cross-engine
  * argument).
  *
  * 100-TB posture: component labels are (long, long) rows over pair-
  * touched ids only ([[Components.connectedComponents]] — large/small-star
  * with lineage truncation); the label join is an id-keyed hash join
  * (AQE-broadcast when the pair-touched set is small, as it is on
  * mostly-unique corpora), and the split itself is a codegen'd
  * expression. Text is never touched — callers mine the pair list with
  * the capped, payload-free [[Dedup]] machinery.
  */
object Split {

  /** Split-key modulus: valPermille is measured in thousandths. */
  val Permille = 1000L

  /** Default key: xxhash64 of (a fixed seed, representative) in
    * [0, Permille).
    */
  def defaultKey(rep: Column): Column =
    pmod(xxhash64(lit(0x73706c69L), rep), lit(Permille))

  /** The multiplicative key DuckDB oracles replicate (ids must keep
    * id * 2654435761 within a long — ANSI throws past that, never
    * silently wraps).
    */
  def multiplicativeKey(rep: Column): Column =
    pmod(rep * lit(2654435761L), lit(Permille))

  /** Annotate `df` with (split_rep, split): split_rep is the document's
    * near-dup cluster representative (component min id, or the document
    * itself when it appears in no pair), split is "val" iff
    * key(split_rep) < valPermille else "train". `pairs` is the
    * undirected near-dup pair list (id_a, id_b), e.g. MinHash-mined +
    * reranked; integral ids.
    */
  def leakFreeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                    valPermille: Int,
                    key: Column => Column = defaultKey(_)): DataFrame = {
    require(valPermille >= 0 && valPermille <= Permille,
      s"valPermille ($valPermille) must be in [0, $Permille]")
    // internal names prefixed: an input frame that already carries a
    // "component" column must not make the coalesce ambiguous
    val labels = Components.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    // a NULL id has no representative and no key: key(NULL) is NULL and
    // the when() would silently bucket the row into 'train' (even at
    // valPermille = 1000) — drop it like the sibling recipe ops do
    df.filter(df(idCol).isNotNull)
      .join(labels, df(idCol) === col("__cc_id"), "left")
      .withColumn("split_rep", coalesce(col("__cc_comp"), df(idCol)))
      .drop("__cc_id", "__cc_comp")
      .withColumn("split",
        when(key(col("split_rep")) < lit(valPermille.toLong), lit("val"))
          .otherwise(lit("train")))
  }

  /** Split-leakage audit — the check that makes the guarantee above
    * observable (and catches the naive per-document split it replaces):
    * join the near-dup pair list to a split assignment on BOTH endpoints
    * and count pairs per unordered (split_a, split_b) combination. Any
    * row with split_a != split_b is leakage: a near-duplicate pair
    * straddling the train/val boundary. An endpoint absent from
    * `assigned` (e.g. the document was dropped upstream) reports as
    * "absent" rather than silently vanishing — an audit that drops the
    * suspicious rows isn't one.
    *
    * Output: (split_a, split_b, n_pairs), split_a <= split_b.
    *
    * 100-TB posture: `assigned` contributes only a narrow (id, split)
    * projection; the two joins are id-keyed hash joins where the pair
    * list — capped by the mining machinery — is the small side (AQE
    * broadcasts it on mostly-unique corpora); the final groupBy is
    * catalog-sized (split labels squared).
    */
  def leakageReport(assigned: DataFrame, idCol: String, splitCol: String,
                    pairs: DataFrame): DataFrame = {
    val slim = assigned.select(col(idCol).as("__sid"),
      col(splitCol).cast("string").as("__sv"))
    val joined = pairs.select(col("id_a"), col("id_b"))
      .join(slim, col("id_a") === col("__sid"), "left")
      .withColumn("__sa", coalesce(col("__sv"), lit("absent")))
      .drop("__sid", "__sv")
      .join(slim, col("id_b") === col("__sid"), "left")
      .withColumn("__sb", coalesce(col("__sv"), lit("absent")))
    joined
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
