package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Model-based language identification: Cavnar & Trenkle 1994 rank-order
  * character-n-gram profiles ("N-Gram-Based Text Categorization", public).
  * Profiles are TRAINED from labeled text, so any language with training
  * data is covered without curated stopword lists, and every step is
  * deterministic integer arithmetic — rank distance replays exactly in
  * DuckDB (q58).
  *
  * Semantics (pinned by CtLangIdSpec):
  *   - n-grams: all length-`n` (3) character substrings of the raw text
  *     (spaces included; no word padding);
  *   - a profile is the top-`k` (20) n-grams by (count DESC, n-gram ASC),
  *     ranks 0-based;
  *   - out-of-place distance from doc profile D to language profile L:
  *     sum over D's entries of |rank_D - rank_L|, with `k` as the
  *     penalty for an n-gram absent from L;
  *   - prediction: the language with the smallest distance, ties broken
  *     by language code ASC; a document with no n-grams (shorter than
  *     `n`) reads "und" — there is nothing to rank.
  *
  * Scale shape: training explodes n-grams only to count them per
  * language — the shuffle carries (lang, ngram) partial counts (map-side
  * combine; the n-gram key space is alphabet-bounded, and a 100-TB run
  * trains profiles from a per-language sample, not the full corpus).
  * Classification never explodes: one native walk builds each document's
  * top-k profile ([[CtProfile]]) and one more scores it against the
  * broadcast language profiles ([[CtClassify]]) — zero joins, zero
  * shuffles on the corpus path.
  */
object CtLangId {

  /** Character n-gram width and profile length. */
  private val N = 3
  private val K = 20

  /** Language profiles, collected (catalog-sized: #langs x k). Sorted by
    * language code for deterministic downstream iteration.
    *
    * The corpus pass explodes PER-DOCUMENT COUNT MAPS ([[CtNgramCounts]],
    * one native walk per doc), not raw n-gram occurrences: a doc emits
    * its ~distinct-n-gram rows (pre-weighted) instead of one row per
    * character — ~8x fewer generated rows and no interpreted
    * transform-lambda per char (the round-1 HOF tax; the composed
    * [[ngramArray]] twin stays as the semantic oracle, pinned in
    * CtLangIdSpec).
    */
  def trainProfiles(df: DataFrame, textCol: String,
                    langCol: String): Seq[(String, Seq[String])] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("c").desc, col("g"))
    df.filter(col(textCol).isNotNull && col(langCol).isNotNull)
      .select(col(langCol).as("lang"),
        explode(ngramCounts(col(textCol), N)).as(Seq("g", "dc")))
      .groupBy("lang", "g").agg(sum(col("dc")).as("c"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .orderBy(col("lang"), col("rk"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toSeq
      .sortBy(_._1)
  }

  /** Per-document n-gram count map (native one-walk). */
  def ngramCounts(text: Column, n: Int): Column =
    ColumnBridge.column(CtNgramCounts(ColumnBridge.expression(text), n))

  /** All length-n substrings as an array column — the composed-builtins
    * twin of the count-map path (semantic oracle; one interpreted lambda
    * per character, so the hot path avoids it).
    */
  private[ops] def ngramArray(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))

  /** Document profile: top-k n-grams by (count DESC, n-gram ASC). */
  def profile(text: Column): Column =
    ColumnBridge.column(CtProfile(ColumnBridge.expression(text), N, K))

  /** Predicted language for a document profile under trained profiles. */
  def classify(profileArr: Column, profiles: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(CtClassify(ColumnBridge.expression(profileArr),
      profiles, K))

  /** Driver-side single-string classification (spec parity surface). */
  def classifyString(text: String, profiles: Seq[(String, Seq[String])]): String = {
    val prof = CtProfile.compute(UTF8String.fromString(text), N, K)
    CtClassify.computeFromStrings(
      (0 until prof.numElements()).map(i => prof.getUTF8String(i).toString),
      new CtRuntime(profiles, K))
  }
}

/** Native per-document n-gram count map: one walk, map<string,int> out —
  * the training pass' generator (distinct n-grams per doc, pre-weighted,
  * instead of one exploded row per character).
  */
case class CtNgramCounts(child: Expression, n: Int)
  extends UnaryExpression {
  require(n >= 1, s"need n >= 1, got $n")

  override def dataType: DataType =
    org.apache.spark.sql.types.MapType(StringType,
      org.apache.spark.sql.types.IntegerType, valueContainsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a STRING argument, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    CtNgramCounts.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.CtNgramCounts.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CtNgramCounts =
    copy(child = newChild)
  override def prettyName: String = "ct_ngram_counts"
}

object CtNgramCounts {
  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.MapData =
    NgramWalk.toMapData(NgramWalk.charNgramCounts(text.toString, n))
}

/** Native top-k character-n-gram profile: one walk + one small sort per
  * document (distinct n-grams per doc are text-length-bounded).
  */
case class CtProfile(child: Expression, n: Int, k: Int)
  extends UnaryExpression {
  require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a STRING argument, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    CtProfile.compute(input.asInstanceOf[UTF8String], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.CtProfile.compute($c, $n, $k)")

  override protected def withNewChildInternal(newChild: Expression): CtProfile =
    copy(child = newChild)
  override def prettyName: String = "ct_profile"
}

object CtProfile {
  def compute(text: UTF8String, n: Int, k: Int): ArrayData = {
    val counts = NgramWalk.charNgramCounts(text.toString, n)
    val entries = new java.util.ArrayList[java.util.Map.Entry[String, Integer]](
      counts.entrySet())
    entries.sort { (a, b) =>
      val c = Integer.compare(b.getValue, a.getValue)
      // codepoint order, not String.compareTo's UTF-16 order — the tie
      // the trained profiles and the DuckDB oracle break the same way
      if (c != 0) c else NgramWalk.compareCodePoints(a.getKey, b.getKey)
    }
    val m = math.min(k, entries.size())
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      out(j) = UTF8String.fromString(entries.get(j).getKey)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Executor-side rank tables for [[CtClassify]]. */
final class CtRuntime(profiles: Seq[(String, Seq[String])], val k: Int)
  extends Serializable {
  val langs: Array[String] = profiles.map(_._1).sorted.toArray
  val ranks: Array[java.util.HashMap[String, Integer]] = {
    val byLang = profiles.toMap
    langs.map { l =>
      val m = new java.util.HashMap[String, Integer]()
      byLang(l).zipWithIndex.foreach { case (g, r) => m.put(g, r) }
      m
    }
  }
}

/** Native out-of-place classification of a profile array against the
  * broadcast language profiles; "und" for an empty profile.
  */
case class CtClassify(child: Expression,
                      profiles: Seq[(String, Seq[String])], k: Int)
  extends UnaryExpression {

  @transient private lazy val runtime = new CtRuntime(profiles, k)

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an ARRAY<STRING> argument, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    CtClassify.compute(input.asInstanceOf[ArrayData], runtime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rtRef = ctx.addReferenceObj("ctRuntime", runtime,
      classOf[CtRuntime].getName)
    defineCodeGen(ctx, ev, c => s"graft.ops.CtClassify.compute($c, $rtRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): CtClassify =
    copy(child = newChild)
  override def prettyName: String = "ct_classify"
  override def toString: String =
    s"ct_classify($child, profiles[${profiles.size} langs], k=$k)"
}

object CtClassify {
  def compute(profile: ArrayData, rt: CtRuntime): UTF8String = {
    val m = profile.numElements()
    if (m == 0 || rt.langs.isEmpty) return UTF8String.fromString("und")
    var bestLang: String = null
    var bestDist = Long.MaxValue
    var li = 0
    while (li < rt.langs.length) {
      val ranks = rt.ranks(li)
      var d = 0L
      var i = 0
      while (i < m) {
        val r = ranks.get(profile.getUTF8String(i).toString)
        d += (if (r == null) rt.k.toLong else math.abs(i - r.intValue()).toLong)
        i += 1
      }
      if (d < bestDist) { bestDist = d; bestLang = rt.langs(li) }
      li += 1
    }
    UTF8String.fromString(bestLang)
  }

  private[ops] def computeFromStrings(profile: Seq[String], rt: CtRuntime): String =
    compute(new GenericArrayData(
      profile.map(UTF8String.fromString).toArray[Any]), rt).toString
}
