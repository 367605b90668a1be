package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-budget epoch planner — the "how many epochs of each source"
  * op in an LLM training-data recipe: given a corpus with a source
  * column and a per-row token count, and a total token budget, compute
  * per-source repeat factors (whole epochs + a fractional remainder)
  * whose expected token totals follow sqrt-temperature shares of the
  * budget, then materialize the repeated dataset deterministically.
  *
  * This generalizes [[SourceMix]] from "keep or drop" to "emit k
  * copies": a source whose quota exceeds its size is repeated (epoch
  * 2, 3, ...); a source whose quota is below its size is subsampled
  * (base 0 copies + fractional keep) — both fall out of the same
  * integer plan, so one operator covers up-weighting small high-value
  * sources AND down-weighting dominant crawl data.
  *
  * Mechanics (one pass over the corpus, no windows):
  *
  *  1. per-source token totals T_s — map-side-partial groupBy,
  *     sources-sized output;
  *  2. driver-side EXACT integer plan (BigInt end to end):
  *     `w_s   = floor(sqrt(T_s) * 1000)`       (sqrt temperature)
  *     `Q_s   = budget * w_s / sum(w)`         (token quota)
  *     `base_s = Q_s / T_s`                    (whole epochs)
  *     `thr_s = M * (Q_s mod T_s) / T_s`       (fractional keep, in [0,M))
  *  3. copies(row) = base_s + (mixKey(row) < thr_s ? 1 : 0), then
  *     explode `sequence(1, copies)` as the `epoch` column.
  *
  * Expected emitted tokens per source = Q_s up to the floor in thr_s
  * (each row's extra copy fires with probability thr_s/M regardless of
  * its length, so the expectation telescopes to T_s * thr_s / M ≈
  * Q_s mod T_s). Determinism is the point: the emitted multiset is a
  * pure function of (ids, sources, token counts, budget), so reruns
  * and a DuckDB oracle reproduce it exactly — the only double ops are
  * IEEE-correctly-rounded sqrt/floor, everything after is integer.
  *
  * 100-TB posture: one narrow groupBy (sources-sized), one broadcast
  * hash join of a sources-sized plan table, one codegen'd
  * filter+explode. The explode amplifies by design — its factor is
  * budget/corpus, the quantity the caller chose — and [[MaxEpochs]]
  * refuses plans whose base factor exceeds a sanity bound, so a
  * mistyped budget fails loudly instead of emitting a 1000x corpus.
  */
object EpochPlan {

  /** Threshold modulus — mixKey values must be uniform in [0, M). */
  val M: Long = SourceMix.M

  /** Sanity bound on a source's whole-epoch count. */
  private val MaxEpochs = 1000L

  /** Per-source (base copies, fractional threshold) from per-source
    * token totals and a token budget. Pure integer math (BigInt).
    */
  private[ops] def plan(tokens: Seq[(String, Long)],
                        budgetTokens: Long): Seq[(String, Long, Long)] = {
    require(budgetTokens >= 0, s"budgetTokens ($budgetTokens) must be >= 0")
    val weighted = tokens.map { case (s, t) =>
      require(t > 0, s"source $s has non-positive token total $t")
      (s, t, SourceMix.sqrtWeight(t))
    }
    val sumW = weighted.map(_._3).sum
    weighted.map { case (s, t, w) =>
      val quota = (BigInt(budgetTokens) * w) / sumW
      val base = quota / t
      require(base <= MaxEpochs,
        s"source $s plans $base whole epochs (more than $MaxEpochs); " +
          "the budget is likely mistyped")
      val thr = (BigInt(M) * (quota % t)) / t
      (s, base.toLong, thr.toLong)
    }
  }

  /** Materialize the epoch plan: emit each row of `df` `base_s` or
    * `base_s + 1` times with an `epoch` column (1-based, BIGINT).
    * `mixKey` defaults to [[SourceMix.defaultKey]] over `idCol`; graded
    * oracles pass [[SourceMix.multiplicativeKey]] (DuckDB-replicable).
    */
  def epochSample(df: DataFrame, idCol: String, sourceCol: String,
                  tokensCol: String, budgetTokens: Long,
                  mixKey: Option[Column] = None): DataFrame = {
    require(df.schema(sourceCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"$sourceCol must be a string column (got " +
        s"${df.schema(sourceCol).dataType.simpleString}); cast first")
    // same NULL-source contract as SourceMix: a row with no recipe
    // bucket gets no plan row and the inner join drops it. A ZERO-token
    // source is dropped the same way — no tokens means no claim on a
    // token budget (and no divisor for a plan); negative totals still
    // fail loudly inside plan() as data corruption.
    val totals = df.groupBy(col(sourceCol))
      .agg(sum(col(tokensCol).cast("long")).as("__t"))
      .collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getString(0), r.getLong(1))).filter(_._2 != 0L).toSeq
    if (totals.isEmpty) return df.limit(0).withColumn("epoch", lit(1L))
    val spark = df.sparkSession
    import spark.implicits._
    val planDf = plan(totals, budgetTokens)
      .toDF(sourceCol, "__base", "__thr")
    val key = mixKey.getOrElse(SourceMix.defaultKey(col(idCol)))
    df.join(broadcast(planDf), Seq(sourceCol))
      // a row with no identity (NULL id) or no key cannot take a
      // deterministic fractional-copy decision — drop it instead of
      // silently emitting base copies. NOTE the id check is load-bearing
      // even under the default key: Spark's xxhash64 SKIPS null
      // children, so key(NULL id) is a shared constant, not NULL.
      .filter(col(idCol).isNotNull && key.isNotNull)
      .withColumn("__copies",
        col("__base") + when(key < col("__thr"), lit(1L)).otherwise(lit(0L)))
      // filter BEFORE sequence(): sequence(1, 0) descends to [1, 0]
      // (the empty-array gotcha), it does not yield an empty array
      .filter(col("__copies") >= 1L)
      .withColumn("epoch", explode(sequence(lit(1L), col("__copies"))))
      // the key join moved sourceCol to position 0 — restore input
      // order (+ epoch), matching the empty-catalog path's schema
      .select((df.columns.map(col) :+ col("epoch")).toIndexedSeq: _*)
  }
}
