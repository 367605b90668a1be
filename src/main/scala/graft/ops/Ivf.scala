package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** IVF (inverted-file) approximate-nearest-neighbor index — the
  * data-adaptive complement to the RHP-LSH bucket path in [[Similarity]].
  *
  * A coarse quantizer of `nlist` centroids (deterministic hash-sampled
  * seeds refined by Lloyd iterations over the vectors)
  * partitions vectors into cells; a query probes the `nProbe` nearest
  * cells and reranks exactly. The assigned table is built in one scan
  * (plus a KB-sized broadcast of centroids) and held in memory; a query
  * keeps only its probed cells — candidate volume ~ nProbe/nlist of the
  * corpus, with recall that tracks the data distribution instead of
  * random hyperplanes.
  *
  * Everything driver-side is O(nlist*dim); the per-row
  * assignment is one native expression (no per-element interpreted
  * lambdas, no UDF).
  */
object Ivf {

  final case class Index(centroids: Array[Array[Float]], assigned: DataFrame)

  /** Lloyd means are accumulated as quantized longs (x * 2^20, rounded):
    * integer addition is exactly commutative/associative, so the trained
    * centroids are BIT-DETERMINISTIC regardless of partial-merge order —
    * a double-precision avg() would drift between runs with shuffle
    * nondeterminism. 2^-20 quantization is far below any useful
    * coarse-quantizer resolution.
    */
  private val MeanQuantum = (1L << 20).toDouble

  /** Lloyd refinement steps of [[trainCentroids]]. */
  private val RefineIters = 2

  /** Read an array<float> or array<double> row cell as Array[Float]. */
  private def rowVec(r: org.apache.spark.sql.Row): Array[Float] =
    r.getSeq[Any](0).map {
      case f: Float  => f
      case d: Double => d.toFloat
      case null      => 0f
    }.toArray

  /** Deterministic centroid training.
    *  - seeds: the `nlist` rows with smallest xxhash64(id, seed) — a
    *    uniform deterministic sample, planned as TakeOrderedAndProject
    *    (per-partition heaps, no global sort);
    *  - refinement: [[RefineIters]] Lloyd steps over every vector (rows x
    *    dim through a (cell, pos) hash aggregate, partially merged
    *    map-side to at most nlist x dim sums per task).
    */
  def trainCentroids(df: DataFrame, vecCol: String, idCol: String,
                     nlist: Int, seed: Long = 7L): Array[Array[Float]] = {
    var cents: Array[Array[Float]] =
      df.select(col(vecCol).as("v"), col(idCol).as("i"),
          xxhash64(col(idCol), lit(seed)).as("h"))
        .orderBy(col("h"), col("i")).limit(nlist)
        .select(col("v")).collect()
        .map(rowVec)

    // every Lloyd iteration consumes the vectors — persist them so the
    // corpus is scanned once, not once per refinement
    val vecs = df.select(col(vecCol).as("v")).persist()
    try {
    var it = 0
    while (it < RefineIters) {
      // assign vectors -> quantized-sum mean per (cell, dimension); empty
      // cells keep their previous centroid (standard Lloyd degenerate-
      // cell rule)
      val means = vecs
        .withColumn("cell", nearestCell(col("v"), cents))
        .select(col("cell"),
          posexplode(col("v").cast("array<double>")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("x") * MeanQuantum).cast("long")).as("s"),
          count(lit(1)).as("c"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          (r.getLong(2) / (r.getLong(3) * MeanQuantum)).toFloat
      }
      cents = next
      it += 1
    }
    } finally vecs.unpersist()
    cents
  }

  /** Assign every vector to its nearest centroid (one scan, native
    * expression, centroids broadcast inside the plan).
    */
  def build(df: DataFrame, vecCol: String, idCol: String,
            nlist: Int = 64, seed: Long = 7L): Index = {
    val cents = trainCentroids(df, vecCol, idCol, nlist, seed)
    Index(cents, df.withColumn("__cell", nearestCell(col(vecCol), cents)))
  }

  /** Probe order for a query: cells sorted by L2 distance to the query
    * (driver-side — nlist*dim floats).
    */
  def probeCells(centroids: Array[Array[Float]], query: Seq[Float],
                 nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0; var j = 0
      while (j < c.length) {
        val diff = c(j).toDouble - (if (j < query.length) query(j).toDouble else 0.0)
        d += diff * diff; j += 1
      }
      (d, i)
    }.sortBy(x => (x._1, x._2)).take(nProbe).map(_._2).toSeq

  /** IVF top-k: probe the `nProbe` nearest cells, rerank exactly by
    * cosine. Same output schema as [[Similarity.bruteTopK]].
    */
  def topK(index: Index, vecCol: String, idCol: String,
           query: Seq[Float], k: Int, nProbe: Int = 8): DataFrame = {
    val probes = probeCells(index.centroids, query, nProbe)
    val q = array(query.map(v => lit(v)): _*)
    index.assigned
      .filter(col("__cell").isin(probes: _*))
      .select(col(idCol), Similarity.cosine(col(vecCol), q).as("cosine"))
      // NaN (zero-norm) cosines sort ABOVE 1.0 under desc — never rank them
      .filter(Similarity.rankable(col("cosine")))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** One-shot convenience: train + assign + query in a single call.
    * For repeated queries build once and keep the [[Index]] — retraining
    * per query is the expensive part.
    */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
              query: Seq[Float], k: Int, nlist: Int = 64, nProbe: Int = 8,
              seed: Long = 7L): DataFrame =
    topK(build(df, vecCol, idCol, nlist, seed),
      vecCol, idCol, query, k, nProbe)

  def nearestCell(vec: Column, centroids: Array[Array[Float]]): Column =
    ColumnBridge.column(NearestCell(ColumnBridge.expression(vec), centroids.map(_.toSeq).toSeq))
}

/** argmin_i |v - c_i|^2 in one native loop, via the expansion
  * argmin (|c_i|^2 - 2 v.c_i) — the |v|^2 term is rank-invariant, so each
  * candidate costs one fused multiply-add pass. Ties break to the lowest
  * cell index. Null elements contribute 0 (treated as missing mass);
  * an empty vector lands in the cell with the smallest |c_i|^2.
  *
  * Codegen: the loop lives in the static [[NearestCell.compute]]; the
  * plan-time centroid and half-norm tables ride into the generated code
  * as reference objects, so the assignment projection stays inside
  * whole-stage codegen (A/B in BENCH/CODEGEN.md).
  */
case class NearestCell(child: Expression, centroids: Seq[Seq[Float]])
  extends UnaryExpression {
  require(centroids.nonEmpty, "need at least one centroid")

  override def dataType: DataType = IntegerType

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val cents: Array[Array[Double]] =
    centroids.map(_.map(_.toDouble).toArray).toArray
  private lazy val halfNormSq: Array[Double] =
    cents.map(c => 0.5 * c.map(x => x * x).sum)

  override protected def nullSafeEval(input: Any): Any =
    NearestCell.compute(input.asInstanceOf[ArrayData], cents, halfNormSq, isFloat)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val centsRef = ctx.addReferenceObj("nearestCellCents", cents, "double[][]")
    val normsRef = ctx.addReferenceObj("nearestCellNorms", halfNormSq, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.ops.NearestCell.compute($c, $centsRef, $normsRef, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
  override def prettyName: String = "nearest_cell"
}

object NearestCell {
  /** One-loop body shared by eval and the generated code. */
  def compute(arr: ArrayData, cents: Array[Array[Double]],
              halfNormSq: Array[Double], isFloat: Boolean): Int = {
    val n = arr.numElements()
    var best = 0
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      var dot = 0.0
      var j = 0
      val m = math.min(n, c.length)
      while (j < m) {
        if (!arr.isNullAt(j)) {
          val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
          dot += x * c(j)
        }
        j += 1
      }
      val score = dot - halfNormSq(i)
      if (score > bestScore) { bestScore = score; best = i }
      i += 1
    }
    best
  }
}
