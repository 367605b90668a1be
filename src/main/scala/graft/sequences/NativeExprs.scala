package graft.sequences

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native per-row loops for the two hottest array paths. Spark's
  * higher-order functions (transform/exists/aggregate) evaluate their
  * lambda as an interpreted expression per ELEMENT; for token arrays of
  * hundreds of elements that interpretive overhead dominates the job.
  * These expressions do the identical math in one tight JVM loop per row.
  */

/** tokens(i) = pmod(xxhash64(id, seed, 7, i), vocab) for i in 1..n —
  * bit-identical to the composed
  * `transform(sequence(1, n), i -> pmod(xxhash64(id, seed, 7, i), vocab))`
  * (Spark's xxhash64 chains XXH64.hashLong/hashInt with seed 42).
  */
case class GenTokens(id: Expression, nTok: Expression, seed: Long, vocab: Int)
  extends BinaryExpression with CodegenFallback {
  override def left: Expression = id
  override def right: Expression = nTok
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(idVal: Any, nVal: Any): Any = {
    val idL = idVal.asInstanceOf[Long]
    val n = nVal.asInstanceOf[Int]
    val out = new Array[Int](math.max(n, 0))
    // prefix of the hash chain is loop-invariant
    var h0 = XXH64.hashLong(idL, 42L)
    h0 = XXH64.hashLong(seed, h0)
    h0 = XXH64.hashInt(7, h0)
    var i = 0
    while (i < n) {
      val h = XXH64.hashInt(i + 1, h0)
      val m = (h % vocab).toInt
      out(i) = if (m < 0) m + vocab else m
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GenTokens =
    copy(id = l, nTok = r)
  override def prettyName: String = "gen_tokens"
}

object GenTokens {
  def gen_tokens(id: Column, nTok: Column, seed: Long, vocab: Int): Column =
    ColumnBridge.column(GenTokens(
      ColumnBridge.expression(id), ColumnBridge.expression(nTok), seed, vocab))
}

/** One pass over an int array -> struct(n, n_null, min, max). Replaces
  * size() + exists(isNull) + exists(out-of-range) + array_min + array_max
  * (five interpreted HOF walks) in the validator's row-flag path.
  */
case class TokenStats(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("n_null", IntegerType, nullable = false),
    StructField("min", IntegerType, nullable = true),
    StructField("max", IntegerType, nullable = true)))

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var nNull = 0
    var mn = Int.MaxValue
    var mx = Int.MinValue
    var seen = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) nNull += 1
      else {
        val v = arr.getInt(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        seen = true
      }
      i += 1
    }
    InternalRow(n, nNull,
      if (seen) mn else null,
      if (seen) mx else null)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
  override def prettyName: String = "token_stats"
}

object TokenStats {
  def token_stats(tokens: Column): Column =
    ColumnBridge.column(TokenStats(ColumnBridge.expression(tokens)))
}

/** Row-violation bitmask in ONE walk: bit 1 = ntok_mismatch, 2 =
  * null_token, 4 = oov_token, 8 = ntok_bounds. Exactly the
  * [[graft.constraints.Validator.rowFlags]] predicates under the
  * violation channel's coalesce(flag, FALSE) defaults (null inputs never
  * flag here — they have per-source stats counters).
  *
  * Why: predicate pushdown inlines a shared token_stats alias into every
  * field reference of the filter — FIVE interpreted walks of the token
  * array per scanned row. The mask keeps the filter to one walk; the
  * (rare) surviving rows decode their reasons from the mask with cheap
  * bit tests.
  */
case class ViolationMask(tokens: Expression, nTok: Expression,
                         vocab: Int, minNtok: Int, maxNtok: Int)
  extends BinaryExpression {
  override def left: Expression = tokens
  override def right: Expression = nTok
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  // must run for null inputs too (null tokens + non-null n_tok can still
  // flag ntok_bounds), so eval overrides rather than nullSafeEval
  override def eval(input: InternalRow): Any = {
    val arrRaw = tokens.eval(input)
    val ntRaw = nTok.eval(input)
    ViolationMask.compute(
      if (arrRaw == null) null else arrRaw.asInstanceOf[ArrayData],
      if (ntRaw == null) 0 else ntRaw.asInstanceOf[Int],
      ntRaw == null, vocab, minNtok, maxNtok)
  }

  // codegen keeps the one-scan suite's violations FILTER inside
  // whole-stage codegen (this expression sits on the headline seq/s
  // path); null handling is explicit because the mask is defined for
  // null inputs too
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tokGen = tokens.genCode(ctx)
    val ntGen = nTok.genCode(ctx)
    ev.copy(code =
      code"""
            |${tokGen.code}
            |${ntGen.code}
            |int ${ev.value} = graft.sequences.ViolationMask.compute(
            |  ${tokGen.isNull} ? null : ${tokGen.value},
            |  ${ntGen.isNull} ? 0 : ${ntGen.value}, ${ntGen.isNull},
            |  $vocab, $minNtok, $maxNtok);
          """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ViolationMask =
    copy(tokens = l, nTok = r)
  override def prettyName: String = "violation_mask"
}

object ViolationMask {
  def violation_mask(tokens: Column, nTok: Column,
                     vocab: Int, minNtok: Int, maxNtok: Int): Column =
    ColumnBridge.column(ViolationMask(
      ColumnBridge.expression(tokens), ColumnBridge.expression(nTok),
      vocab, minNtok, maxNtok))

  /** One-walk mask body shared by eval and the generated code: `arr` may
    * be null (tokens column null), `ntNull` says whether n_tok was null
    * (`nt` is then ignored).
    */
  def compute(arr: ArrayData, nt: Int, ntNull: Boolean,
              vocab: Int, minNtok: Int, maxNtok: Int): Int = {
    var mask = 0
    if (!ntNull && (nt < minNtok || nt > maxNtok)) mask |= 8
    if (arr != null) {
      val n = arr.numElements()
      var nNull = 0
      var mn = Int.MaxValue
      var mx = Int.MinValue
      var seen = false
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) nNull += 1
        else {
          val t = arr.getInt(i)
          if (t < mn) mn = t
          if (t > mx) mx = t
          seen = true
        }
        i += 1
      }
      if (!ntNull && nt != n) mask |= 1
      if (nNull > 0) mask |= 2
      if (seen && (mn < 0 || mx >= vocab)) mask |= 4
    }
    mask
  }
}
