package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic training-order materialization — the "global shuffle"
  * every LLM training pipeline runs last: assign each (possibly
  * epoch-repeated) example a contiguous 0-based global position `ord`
  * in a pseudo-random but fully reproducible order, plus the `shard`
  * it belongs to, so the write side can lay examples out exactly in
  * training order and a crashed run re-derives the identical order.
  *
  * A naive `row_number() OVER (ORDER BY rand())` is wrong twice at
  * scale: `rand()` is not replay-stable, and an unpartitioned window
  * pulls the corpus through ONE task. Here the order key is a pure
  * function of the row (hash of id, or id+epoch for repeated rows),
  * and the global rank decomposes into range buckets of that key:
  *
  *  1. `key = mixKey(row)` uniform in [0, M) (default xxhash64-based;
  *     oracles pass [[SourceMix.multiplicativeKey]]), ties broken by id
  *     — the order is total and engine-independent;
  *  2. `shard = key * S / M` — an EXPLICIT range bucket of the key
  *     (never `repartitionByRange`, whose sampled boundaries are not
  *     reproducible), so ordering by (shard, key, id) IS ordering by
  *     (key, id);
  *  3. per-shard counts (map-side partial groupBy, S-sized) -> driver
  *     exclusive prefix sums -> broadcast offsets;
  *  4. `ord = offset(shard) + row_number() OVER (PARTITION BY shard
  *     ORDER BY key, id) - 1` — the only wide exchange, and its window
  *     groups are uniform by construction (the key is a hash), so the
  *     "window pins a hot key in one task" hazard does not apply: the
  *     per-task group is n/S rows, and S is the caller's parallelism
  *     knob.
  *
  * 100-TB posture: one narrow S-sized groupBy + one hash exchange on a
  * uniform key + a sort of n/S rows per task. No global sort, no
  * sampled boundaries, no driver materialization beyond S counts.
  * DuckDB reproduces `ord` exactly as
  * `row_number() OVER (ORDER BY key, id) - 1` (integer math only).
  */
object TrainOrder {

  /** Order-key modulus (shared with the recipe samplers). */
  val M: Long = SourceMix.M

  /** Default order key: xxhash64 of (seed, id) in [0, M). The seed is
    * deliberately DISTINCT from [[SourceMix.defaultKey]]'s: mix-then-
    * order with a shared key would sort the corpus by the very key that
    * gated survival — every thinned source's survivors have keys below
    * their threshold, so they'd concentrate at the START of the
    * training order instead of interleaving uniformly.
    */
  def defaultKey(id: Column): Column =
    pmod(xxhash64(lit(0x73687566L), id), lit(M))

  /** Annotate `df` with (shard, ord): `ord` is the global 0-based
    * training position under the deterministic shuffle, `shard` its
    * range bucket (shard boundaries follow the order: all of shard s
    * precedes all of shard s+1). `shards` bounds per-task window work
    * at n/shards rows. `mixKey` must be uniform in [0, M) and a pure
    * function of the row; rows where it is NULL (e.g. a key derived
    * from a NULL id) are dropped — they have no place in a total order.
    *
    * (`mixKey`, `idCol`, `tieCols`) must order rows TOTALLY or the
    * ranks among ties are plan-dependent: on an epoch-repeated corpus
    * ([[EpochPlan.epochSample]]) pass `tieCols = Seq("epoch")` and a
    * key over (id, epoch).
    */
  def trainOrder(df: DataFrame, idCol: String, shards: Int = 256,
                 mixKey: Option[Column] = None,
                 tieCols: Seq[String] = Nil): DataFrame = {
    require(shards >= 1 && shards <= M,
      s"shards ($shards) must be in [1, $M]")
    val spark = df.sparkSession
    import spark.implicits._
    val key = mixKey.getOrElse(defaultKey(col(idCol)))
    // Column./ is DOUBLE division; floor+cast is exact here because
    // key < M and shards <= M bound the product at 1e12 < 2^53
    val keyed = df
      .withColumn("__key", key)
      // NULL-id rows must go too (not just NULL keys): xxhash64 skips
      // null children, so the default key maps every NULL id to one
      // shared constant — they'd tie on (key, id) and rank
      // nondeterministically
      .filter(col(idCol).isNotNull && col("__key").isNotNull)
      .withColumn("shard",
        floor((col("__key") * lit(shards.toLong)) / lit(M)).cast("long"))
    // S-sized: map-side partial agg, collected once on the driver
    val counts = keyed.groupBy(col("shard")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // row_number() is IntegerType: a shard past 2^31 rows would wrap
    // ord negative mid-shard with no error — refuse loudly instead
    counts.foreach { case (s, n) =>
      require(n <= Int.MaxValue.toLong,
        s"shard $s holds $n rows (> Int.MaxValue, row_number would " +
          "overflow); raise `shards`")
    }
    if (counts.isEmpty)
      return df.limit(0)
        .withColumn("shard", lit(0L)).withColumn("ord", lit(0L))
    // exclusive prefix: offset of shard s = total rows in shards < s
    // (shard ids may be sparse; only present shards need offsets)
    val offDf = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).init).toSeq.toDF("shard", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy((col("__key") +: col(idCol) +: tieCols.map(col))
        .toIndexedSeq: _*)
    keyed.join(broadcast(offDf), Seq("shard"))
      .withColumn("ord",
        col("__off") + row_number().over(w).cast("long") - lit(1L))
      .select((df.columns.map(col) :+ col("shard") :+ col("ord"))
        .toIndexedSeq: _*)
  }
}
