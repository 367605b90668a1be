package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-based bigram language-model quality scoring (the CCNet recipe —
  * Wenzek et al. 2020, public: score every document's perplexity under an
  * n-gram LM trained on a clean reference slice, then gate/calibrate on
  * the score). This is the model-based signal between the heuristic
  * quality gate ([[QualityFilter]], q36) and per-group calibration
  * ([[Calibration]], q52).
  *
  * Model: word bigrams with add-one smoothing over the reference slice's
  * vocabulary plus UNK —
  *
  *   P(w_1)        = (c(w_1) + 1) / (N + V)
  *   P(w_i|w_prev) = (c(w_prev, w_i) + 1) / (c(w_prev) + V)
  *
  * with N = total reference tokens, V = |reference vocabulary| + 1 (the
  * UNK slot); out-of-vocabulary words and contexts simply read count 0.
  * The per-document score is the mean negative log-likelihood in nats
  * (`nll = -sum(ln P)/n_tok`, 0.0 for an empty document by contract);
  * every quantity is a ratio of exact integers, so DuckDB replays the
  * score bit-for-bit modulo `ln` rounding (IEEE divisions are correctly
  * rounded; q57 grades `round(nll, 6)`).
  *
  * Scale shape: training is two groupBy count passes over the REFERENCE
  * slice only (map-side combine; the shuffle carries (word[, word],
  * count) rows), capped at `maxEntries` most-frequent rows INSIDE the
  * plan before the collect — the standard pruned-LM trade (CCNet ships
  * exactly such a pruned count model to every worker); N and V come from
  * full-table aggregates, so pruning only zeroes tail counts that
  * smoothing already dominates. A bigram is kept only if its context
  * unigram is: a kept (p, w) under a cut c(p) would read
  * (c(p, w) + 1) / V, which can exceed 1. Scoring is one codegen'd
  * native walk per document with the count tables riding the plan as a
  * reference object.
  */
object NgramLm {

  final case class Model(unigrams: Map[String, Long],
                         bigrams: Map[(String, String), Long],
                         totalTokens: Long, vocabSize: Long) {
    @transient lazy val runtime: LmRuntime = new LmRuntime(this)
  }

  /** Driver-side core (unit-testable without Spark): build the model from
    * token streams. Word adjacency is taken AFTER dropping empty words.
    */
  def trainFromDocs(docs: Seq[String]): Model = {
    val uni = scala.collection.mutable.HashMap[String, Long]()
    val bi = scala.collection.mutable.HashMap[(String, String), Long]()
    var n = 0L
    docs.foreach { text =>
      var prev: String = null
      text.split(" ").iterator.filter(_.nonEmpty).foreach { w =>
        uni(w) = uni.getOrElse(w, 0L) + 1L
        n += 1
        if (prev != null) bi((prev, w)) = bi.getOrElse((prev, w), 0L) + 1L
        prev = w
      }
    }
    Model(uni.toMap, bi.toMap, n, uni.size + 1L)
  }

  /** Distributed training over a reference DataFrame: two count passes
    * (unigrams, bigrams), both capped to the most frequent `maxEntries`
    * rows (ties by key ASC) before the driver collect; bigrams whose
    * context fell to the unigram cap are then dropped. N and V are exact
    * full-table aggregates regardless of the cap.
    */
  def train(ref: DataFrame, textCol: String,
            maxEntries: Int = 1 << 22): Model = {
    val nn = ref.filter(col(textCol).isNotNull)
    // both passes explode per-document COUNT MAPS ([[WordNgramCounts]],
    // one native walk per doc) rather than one interpreted-HOF row per
    // word/pair — the round-1 HOF tax measured again here: the composed
    // transform() bigram extraction was 9.5x-linear in the 20M-doc soak,
    // and a reference slice can legitimately be large. The composed twin
    // survives as trainFromDocs, pinned equal by NgramLmSpec.
    val uniDf = nn
      .select(explode(wordNgramCounts(col(textCol), 1)).as(Seq("w", "dc")))
      .groupBy("w").agg(sum(col("dc")).as("c"))
    val Array(nTok, vocab) = uniDf
      .agg(coalesce(sum("c"), lit(0L)), count(lit(1))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val uni = uniDf.orderBy(col("c").desc, col("w"))
      .limit(maxEntries).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the n=2 key is "p w" (words cannot contain the separator), split
    // back into the pair BEFORE the cap's ordering so the (c, p, w)
    // tie-break stays identical to the previous pair-typed plan
    val bi = nn
      .select(explode(wordNgramCounts(col(textCol), 2)).as(Seq("g", "dc")))
      .groupBy("g").agg(sum(col("dc")).as("c"))
      .select(substring_index(col("g"), " ", 1).as("p"),
        substring_index(col("g"), " ", -1).as("w"), col("c"))
      .orderBy(col("c").desc, col("p"), col("w"))
      .limit(maxEntries).collect()
      .collect { case r if uni.contains(r.getString(0)) =>
        (r.getString(0), r.getString(1)) -> r.getLong(2) }.toMap
    Model(uni, bi, nTok, vocab + 1L)
  }

  /** Per-document word-n-gram count map (native one-walk): keys are the
    * space-joined n-grams over the document's NON-EMPTY words (n=1: the
    * words themselves), values their in-doc counts. The character-level
    * sibling is [[CtNgramCounts]].
    */
  def wordNgramCounts(text: Column, n: Int): Column =
    ColumnBridge.column(WordNgramCounts(ColumnBridge.expression(text), n))

  /** `struct<n_tok int, n_oov int, ll double>` per text: token count,
    * out-of-vocabulary count, and summed ln-likelihood (one native walk).
    */
  def stats(text: Column, model: Model): Column =
    ColumnBridge.column(LmStats(ColumnBridge.expression(text), model))

  /** Mean negative log-likelihood in nats (0.0 for empty docs). */
  def nll(text: Column, model: Model): Column = {
    val s = stats(text, model)
    when(s.getField("n_tok") === 0, lit(0.0))
      .otherwise(-s.getField("ll") / s.getField("n_tok"))
  }

  /** Driver-side single-doc scoring (the oracle-parity surface). */
  def scoreString(text: String, model: Model): (Int, Int, Double) =
    LmStats.compute(text, model.runtime)
}

/** Native per-document word-n-gram count map: one walk over the text,
  * map<string,int> out — the training generator for [[NgramLm.train]]
  * (a doc emits its distinct n-grams pre-weighted instead of one
  * exploded row per word/pair through an interpreted lambda).
  */
case class WordNgramCounts(child: Expression, n: Int)
  extends UnaryExpression {
  require(n >= 1, s"need n >= 1, got $n")

  override def dataType: DataType =
    MapType(StringType, IntegerType, valueContainsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a STRING argument, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    WordNgramCounts.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.WordNgramCounts.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramCounts =
    copy(child = newChild)
  override def prettyName: String = "word_ngram_counts"
}

object WordNgramCounts {
  def compute(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.MapData = {
    val s = text.toString
    // split on single spaces, dropping empty words (adjacency is taken
    // AFTER the drop — the trainFromDocs contract)
    val words = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      var j = s.indexOf(' ', i)
      if (j < 0) j = len
      if (j > i) words.add(s.substring(i, j))
      i = j + 1
    }
    val counts = new java.util.LinkedHashMap[String, Integer]()
    var k = 0
    while (k + n <= words.size()) {
      val sb = new java.lang.StringBuilder(words.get(k))
      var m = 1
      while (m < n) { sb.append(' ').append(words.get(k + m)); m += 1 }
      counts.merge(sb.toString, 1, (a, b) => a + b)
      k += 1
    }
    NgramWalk.toMapData(counts)
  }
}

/** Executor-side tables for [[LmStats]]. */
final class LmRuntime(model: NgramLm.Model) extends Serializable {
  val uni = new java.util.HashMap[String, java.lang.Long]()
  model.unigrams.foreach { case (w, c) => uni.put(w, c) }
  val bi = new java.util.HashMap[String, java.lang.Long]()
  model.bigrams.foreach { case ((p, w), c) => bi.put(p + '\u0000' + w, c) }
  val n: Double = model.totalTokens.toDouble
  val v: Double = model.vocabSize.toDouble
}

/** Native per-document LM statistics under a trained [[NgramLm.Model]]:
  * one walk, no HOFs, codegen via the static-compute pattern.
  */
case class LmStats(child: Expression, model: NgramLm.Model)
  extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_oov", IntegerType, nullable = false),
    StructField("ll", DoubleType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a STRING argument, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    LmStats.computeRow(input.asInstanceOf[UTF8String], model.runtime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rtRef = ctx.addReferenceObj("lmRuntime", model.runtime,
      classOf[LmRuntime].getName)
    defineCodeGen(ctx, ev, c => s"graft.ops.LmStats.computeRow($c, $rtRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): LmStats =
    copy(child = newChild)
  override def prettyName: String = "lm_stats"
  override def toString: String =
    s"lm_stats($child, model[${model.unigrams.size} uni, ${model.bigrams.size} bi])"
}

object LmStats {
  def computeRow(text: UTF8String, rt: LmRuntime): InternalRow = {
    val (nTok, nOov, ll) = compute(text.toString, rt)
    new GenericInternalRow(Array[Any](nTok, nOov, ll))
  }

  def compute(s: String, rt: LmRuntime): (Int, Int, Double) = {
    var nTok = 0
    var nOov = 0
    var ll = 0.0
    var prev: String = null
    var start = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val w = s.substring(start, i)
          val cu = rt.uni.get(w)
          if (cu == null) nOov += 1
          nTok += 1
          if (prev == null) {
            val c = if (cu == null) 0.0 else cu.doubleValue()
            ll += math.log((c + 1.0) / (rt.n + rt.v))
          } else {
            val cb = rt.bi.get(prev + '\u0000' + w)
            val cp = rt.uni.get(prev)
            val cbd = if (cb == null) 0.0 else cb.doubleValue()
            val cpd = if (cp == null) 0.0 else cp.doubleValue()
            ll += math.log((cbd + 1.0) / (cpd + rt.v))
          }
          prev = w
        }
        start = i + 1
      }
      i += 1
    }
    (nTok, nOov, ll)
  }
}
