package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative document quality filtering — the Gopher-style rule gate a
  * training pipeline runs between ingestion and packing. Rules are (name,
  * predicate-of-violation) pairs evaluated in ONE projection over the
  * scan (plain codegen'd expressions, the [[graft.constraints.Validator]]
  * violations pattern applied to documents): the output carries every
  * document with its keep flag and the array of failed rule names, so the
  * same frame serves the keep-side (filter) and the audit side (groupBy
  * reasons) without a second pass.
  */
object QualityFilter {

  /** The rule thresholds (the q36 oracle replays the same numbers). */
  private val MinChars = 50
  private val MaxChars = 100000
  private val MinAlphaRatio = 0.6
  private val MaxDigitRatio = 0.2
  /** max fraction of duplicate 3-word shingles (intra-doc repetition, the
    * Gopher dup-ngram rule): 1 - distinct/total over shingles.
    */
  private val MaxRepetitionRatio = 0.3

  /** Fraction of repeated 3-word shingles in one document:
    * 1 - distinct(shingles)/total(shingles); 0 for sub-3-word texts (the
    * single whole-text shingle cannot repeat).
    */
  def repetitionRatio(text: Column): Column = {
    val sh = TextOps.shingles(text)
    lit(1.0) - size(array_distinct(sh)) / size(sh).cast("double")
  }

  /** The rule set as (name, violated?) columns over a `text` column. */
  private def ruleFlags(text: Column): Seq[(String, Column)] = Seq(
    "too_short" -> (length(text) < MinChars),
    "too_long" -> (length(text) > MaxChars),
    "low_alpha" -> (TextOps.alphaRatio(text) < MinAlphaRatio),
    "digit_heavy" -> (TextOps.digitRatio(text) > MaxDigitRatio),
    "repetitive" -> (repetitionRatio(text) > MaxRepetitionRatio))

  /** Annotate every document with (keep, reasons). A null text fails every
    * applicable rule check as "null_text" alone.
    */
  def annotate(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val reasons = when(text.isNull, array(lit("null_text")))
      .otherwise(array_compact(array(ruleFlags(text).map { case (name, bad) =>
        when(coalesce(bad, lit(true)), lit(name)).otherwise(lit(null))
      }: _*)))
    df.withColumn("reasons", reasons)
      .withColumn("keep", size(col("reasons")) === 0)
  }

  /** The kept corpus (the pipeline's pass-through side). */
  def filter(df: DataFrame, textCol: String): DataFrame =
    annotate(df, textCol).filter(col("keep"))
      .drop("keep", "reasons")
}
