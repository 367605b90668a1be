package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines, built entirely
  * from codegen'd built-in expressions (no UDFs in the hot path).
  * These extend the reference's per-value string statistics (length
  * min/max, format sets — types.clj:42-47, 57-61) to corpus-quality
  * signals.
  */
object TextOps {

  /** Whitespace token count (single-space tokenization). */
  def tokenCountWs(text: Column): Column =
    size(split(text, " "))

  /** BPE-ish token count: alpha runs, digit runs, and single punctuation
    * marks each count as one token.
    */
  def tokenCountBpeIsh(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** One-walk character-class census (native [[CharClassCounts]]). */
  def charClassCounts(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      CharClassCounts(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Ratio over the native census: one byte walk instead of a
    * regexp_replace string copy per class ([[alphaRatioComposed]] twins
    * are the semantic oracle, pinned by CharClassSpec).
    */
  private def classRatio(text: Column, field: String): Column = {
    val c = charClassCounts(text)
    when(c.getField("n_chars") === 0, 0.0)
      .otherwise(c.getField(field) / c.getField("n_chars").cast("double"))
  }

  def alphaRatio(text: Column): Column = classRatio(text, "n_alpha")
  def digitRatio(text: Column): Column = classRatio(text, "n_digit")
  def whitespaceRatio(text: Column): Column = classRatio(text, "n_ws")

  /** Regex twins — the semantic definition (one regexp_replace copy per
    * class; what the DuckDB oracles also compute).
    */
  private def classRatioComposed(text: Column, keepRe: String): Column =
    when(length(text) === 0, 0.0)
      .otherwise(length(regexp_replace(text, s"[^$keepRe]", "")) /
        length(text).cast("double"))
  private[graft] def alphaRatioComposed(text: Column): Column =
    classRatioComposed(text, "A-Za-z")
  private[graft] def digitRatioComposed(text: Column): Column =
    classRatioComposed(text, "0-9")
  private[graft] def whitespaceRatioComposed(text: Column): Column =
    classRatioComposed(text, "\\s")

  /** Tiny per-language stopword inventories for the heuristic language ID.
    * Word-boundary counts over the lowercased text.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "les", "des", "est", "une"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "zh" -> Nil // CJK handled by script detection below
  )

  def stopwordHits(text: Column, words: Seq[String]): Column =
    if (words.isEmpty) lit(0)
    else {
      val pattern = words.map(w => java.util.regex.Pattern.quote(w)).mkString("\\b(", "|", ")\\b")
      regexp_count(lower(text), lit(pattern)).cast("int")
    }

  /** Heuristic language ID: CJK script wins outright; otherwise the
    * language with the most stopword hits (ties broken by language code,
    * so the result is deterministic); no hits -> "und".
    */
  def langId(text: Column): Column = {
    val cjk = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]"))
    val scored = stopwords.toSeq.filter(_._2.nonEmpty).sortBy(_._1).map {
      case (lang, words) => struct(stopwordHits(text, words).as("hits"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(cjk > 0, "zh")
      .when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise("und")
  }

  /** Rolling-hash document fingerprint over whitespace words: a fold that
    * chains each word's hash into the accumulator (order-sensitive, like a
    * polynomial rolling hash, but overflow-free under ANSI arithmetic).
    */
  def fingerprint(text: Column): Column =
    aggregate(split(text, " "), lit(1125899906842597L),
      (acc, w) => xxhash64(acc, w))

  /** Word k-shingles as an array of 64-bit hashes (for MinHash/Jaccard).
    * Native single-pass expression; bit-identical to
    * [[shinglesComposed]] (pinned by NativeExprsSpec).
    */
  def shingles(text: Column, k: Int = 3): Column =
    ShingleHashes.shingle_hashes(text, k)

  /** The composed-builtins formulation of [[shingles]] — the semantic
    * definition the native expression must match; ~n interpreted lambdas
    * per row, each allocating a slice + concat.
    */
  private[graft] def shinglesComposed(text: Column, k: Int = 3): Column = {
    val words = split(text, " ")
    val n = size(words)
    when(n < k, array(xxhash64(text)))
      .otherwise(transform(sequence(lit(0), n - k),
        i => xxhash64(concat_ws(" ", slice(words, i + 1, lit(k))))))
  }
}
