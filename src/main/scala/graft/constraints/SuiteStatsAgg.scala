package graft.constraints

import org.apache.datasketches.hll.{HllSketch, Union => HllUnion}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The per-source suite statistics fold — the reference's
  * extract-then-merge monoid (core.clj:22-27) in its literal form:
  * [[SuiteStatsAgg.updateRow]] extracts one row into the stat buffer (a
  * single walk of the token array computes size/nulls/min/max, the vocab
  * histogram, and the violation flags), [[SuiteStatsAgg.Buf.mergeIn]]
  * combines buffers (counters add, min/max fold, HLL union, KLL merge,
  * histogram vector-add). [[SuiteStatsBySourceAgg]] runs it keyed by
  * source inside one observe aggregate.
  *
  * Why fused instead of 16 composed aggregate expressions (kept as
  * [[Validator.sourceStatsComposed]], the semantic oracle pinned by
  * SuiteStatsSpec): the composed plan walks each token array TWICE
  * (TokenStats + TokenHistAgg) and evaluates each flag separately; at
  * saturation the second walk alone costs ~25% of suite throughput.
  *
  * Flag semantics mirror [[Validator.rowFlags]] + the coalesce defaults in
  * the composed aggregation exactly:
  *  - ntok_mismatch: null n_tok or null tokens counts as a mismatch
  *    (coalesce(flag, TRUE));
  *  - null_token / oov_token: null input does NOT count (coalesce FALSE);
  *  - ntok_bounds: null n_tok counts (coalesce TRUE).
  */
object SuiteStatsAgg {

  /** Field layout of the produced struct — matches the composed
    * [[Validator.sourceStatsComposed]] column-for-column (minus the
    * grouping key).
    */
  val schema: StructType = StructType(Seq(
    StructField("n_rows", LongType, nullable = false),
    StructField("n_ntok_mismatch", LongType, nullable = false),
    StructField("n_null_token", LongType, nullable = false),
    StructField("n_oov_token", LongType, nullable = false),
    StructField("n_ntok_bounds", LongType, nullable = false),
    StructField("n_null_docid", LongType, nullable = false),
    StructField("min_ntok", IntegerType, nullable = true),
    StructField("max_ntok", IntegerType, nullable = true),
    StructField("min_token", IntegerType, nullable = true),
    StructField("max_token", IntegerType, nullable = true),
    StructField("min_docid_len", IntegerType, nullable = true),
    StructField("max_docid_len", IntegerType, nullable = true),
    StructField("approx_distinct_docid", LongType, nullable = false),
    StructField("hll_docid", BinaryType, nullable = false),
    StructField("kll_ntok", BinaryType, nullable = false),
    StructField("hist_token", ArrayType(LongType, containsNull = false), nullable = false)))

  /** One row folded into a buffer — the single fused walk. */
  private[constraints] def updateRow(
      buf: Buf, d: UTF8String, nt: Integer, arrRaw: Any,
      vocab: Int, minNtokCfg: Int, maxNtokCfg: Int,
      bins: Int, binLut: Array[Int]): Unit = {
    buf.nRows += 1

    if (d == null) buf.nNullDocid += 1
    else {
      buf.hll.update(d.getBytes)
      val len = d.numChars()
      if (!buf.seenDLen || len < buf.minDLen) buf.minDLen = len
      if (!buf.seenDLen || len > buf.maxDLen) buf.maxDLen = len
      buf.seenDLen = true
    }

    if (nt != null) {
      val v = nt.intValue()
      buf.kll.update(v.toDouble)
      if (!buf.seenNtok || v < buf.minNtok) buf.minNtok = v
      if (!buf.seenNtok || v > buf.maxNtok) buf.maxNtok = v
      buf.seenNtok = true
      if (v < minNtokCfg || v > maxNtokCfg) buf.nBounds += 1
    } else buf.nBounds += 1 // coalesce(flag, TRUE)

    if (arrRaw == null) {
      buf.nMismatch += 1 // token stats null -> flag null -> coalesce TRUE
    } else {
      val arr = arrRaw.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var nNull = 0
      var mn = Int.MaxValue
      var mx = Int.MinValue
      var seen = false
      val lut = binLut
      val hist = buf.hist
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) nNull += 1
        else {
          val t = arr.getInt(i)
          if (t < mn) mn = t
          if (t > mx) mx = t
          seen = true
          val bin = if (t < 0) 0 else if (t >= vocab) bins - 1 else lut(t)
          hist(bin) += 1
        }
        i += 1
      }
      if (nt == null || nt.intValue() != n) buf.nMismatch += 1
      if (nNull > 0) buf.nNullTok += 1
      if (seen && (mn < 0 || mx >= vocab)) buf.nOov += 1
      if (seen) {
        if (!buf.seenTok || mn < buf.minTok) buf.minTok = mn
        if (!buf.seenTok || mx > buf.maxTok) buf.maxTok = mx
        buf.seenTok = true
      }
    }
  }

  /** Buffer -> stats struct. */
  private[graft] def evalBuf(buf: Buf): InternalRow = {
    def optI(seen: Boolean, v: Int): Any = if (seen) Int.box(v) else null
    InternalRow(
      buf.nRows, buf.nMismatch, buf.nNullTok, buf.nOov, buf.nBounds,
      buf.nNullDocid,
      optI(buf.seenNtok, buf.minNtok), optI(buf.seenNtok, buf.maxNtok),
      optI(buf.seenTok, buf.minTok), optI(buf.seenTok, buf.maxTok),
      optI(buf.seenDLen, buf.minDLen), optI(buf.seenDLen, buf.maxDLen),
      // Math.round matches hll_sketch_estimate (which returns a rounded
      // long); the buffer mirrors hll_sketch_agg's exact structure
      // (HllSketch(12, HLL_8) + Union at merge), so over the same merge
      // order the sketch bytes — and hence this estimate — are bit-equal
      // to the composed plan's
      math.round(buf.hll.getEstimate),
      buf.hll.toUpdatableByteArray,
      buf.kll.toByteArray,
      new GenericArrayData(buf.hist))
  }

  /** Aggregation buffer: plain counters + the three mergeable sketches.
    * The HLL buffer is a directly-updated HllSketch with Union applied
    * only at merge — the exact structure of Spark's hll_sketch_agg, so
    * over the same merge order the fused estimate is bit-equal to the
    * composed plan's.
    */
  final class Buf(bins: Int, kllK: Int) {
    var nRows, nMismatch, nNullTok, nOov, nBounds, nNullDocid = 0L
    var minNtok, maxNtok, minTok, maxTok, minDLen, maxDLen = 0
    var seenNtok, seenTok, seenDLen = false
    var hll = new HllSketch(12, org.apache.datasketches.hll.TgtHllType.HLL_8)
    var kll: KllDoublesSketch = KllDoublesSketch.newHeapInstance(kllK)
    val hist = new Array[Long](bins)

    def mergeIn(b: Buf): Buf = {
      nRows += b.nRows; nMismatch += b.nMismatch; nNullTok += b.nNullTok
      nOov += b.nOov; nBounds += b.nBounds; nNullDocid += b.nNullDocid
      if (b.seenNtok) {
        if (!seenNtok || b.minNtok < minNtok) minNtok = b.minNtok
        if (!seenNtok || b.maxNtok > maxNtok) maxNtok = b.maxNtok
        seenNtok = true
      }
      if (b.seenTok) {
        if (!seenTok || b.minTok < minTok) minTok = b.minTok
        if (!seenTok || b.maxTok > maxTok) maxTok = b.maxTok
        seenTok = true
      }
      if (b.seenDLen) {
        if (!seenDLen || b.minDLen < minDLen) minDLen = b.minDLen
        if (!seenDLen || b.maxDLen > maxDLen) maxDLen = b.maxDLen
        seenDLen = true
      }
      val u = new HllUnion(12)
      u.update(hll); u.update(b.hll)
      hll = u.getResult(org.apache.datasketches.hll.TgtHllType.HLL_8)
      kll.merge(b.kll)
      var i = 0
      while (i < hist.length) { hist(i) += b.hist(i); i += 1 }
      this
    }

    def toBytes: Array[Byte] = {
      val hllB = hll.toUpdatableByteArray
      val kllB = kll.toByteArray
      val bb = java.nio.ByteBuffer.allocate(
        6 * 8 + 6 * 4 + 3 + 4 + hist.length * 8 + 4 + hllB.length + 4 + kllB.length)
      bb.putLong(nRows).putLong(nMismatch).putLong(nNullTok)
        .putLong(nOov).putLong(nBounds).putLong(nNullDocid)
      bb.putInt(minNtok).putInt(maxNtok).putInt(minTok).putInt(maxTok)
        .putInt(minDLen).putInt(maxDLen)
      bb.put(if (seenNtok) 1.toByte else 0.toByte)
      bb.put(if (seenTok) 1.toByte else 0.toByte)
      bb.put(if (seenDLen) 1.toByte else 0.toByte)
      bb.putInt(hist.length); hist.foreach(bb.putLong)
      bb.putInt(hllB.length); bb.put(hllB)
      bb.putInt(kllB.length); bb.put(kllB)
      bb.array()
    }
  }

  object Buf {
    /** A stats row ([[schema]] fields, e.g. an observed stats row) back
      * into a buffer; a NULL min/max means the source saw no such value.
      */
    def fromRow(r: Row, kllK: Int): Buf = {
      val hist = r.getAs[scala.collection.Seq[Long]]("hist_token")
      val b = new Buf(hist.length, kllK)
      b.nRows = r.getAs[Long]("n_rows"); b.nMismatch = r.getAs[Long]("n_ntok_mismatch")
      b.nNullTok = r.getAs[Long]("n_null_token"); b.nOov = r.getAs[Long]("n_oov_token")
      b.nBounds = r.getAs[Long]("n_ntok_bounds"); b.nNullDocid = r.getAs[Long]("n_null_docid")
      def range(f: String, set: (Int, Int) => Unit): Boolean = {
        val mn = r.getAs[Integer](s"min_$f")
        if (mn != null) set(mn, r.getAs[Integer](s"max_$f"))
        mn != null
      }
      b.seenNtok = range("ntok", (mn, mx) => { b.minNtok = mn; b.maxNtok = mx })
      b.seenTok = range("token", (mn, mx) => { b.minTok = mn; b.maxTok = mx })
      b.seenDLen = range("docid_len", (mn, mx) => { b.minDLen = mn; b.maxDLen = mx })
      hist.copyToArray(b.hist)
      b.hll = HllSketch.heapify(r.getAs[Array[Byte]]("hll_docid"))
      b.kll = KllDoublesSketch.heapify(Memory.wrap(r.getAs[Array[Byte]]("kll_ntok")))
      b
    }

    def fromBytes(bytes: Array[Byte], bins: Int, kllK: Int): Buf = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val b = new Buf(bins, kllK)
      b.nRows = bb.getLong(); b.nMismatch = bb.getLong(); b.nNullTok = bb.getLong()
      b.nOov = bb.getLong(); b.nBounds = bb.getLong(); b.nNullDocid = bb.getLong()
      b.minNtok = bb.getInt(); b.maxNtok = bb.getInt(); b.minTok = bb.getInt()
      b.maxTok = bb.getInt(); b.minDLen = bb.getInt(); b.maxDLen = bb.getInt()
      b.seenNtok = bb.get() == 1; b.seenTok = bb.get() == 1; b.seenDLen = bb.get() == 1
      val hl = bb.getInt()
      var i = 0
      while (i < hl) { b.hist(i) = bb.getLong(); i += 1 }
      val hllLen = bb.getInt(); val hllB = new Array[Byte](hllLen); bb.get(hllB)
      b.hll = HllSketch.heapify(hllB)
      val kllLen = bb.getInt(); val kllB = new Array[Byte](kllLen); bb.get(kllB)
      b.kll = KllDoublesSketch.heapify(Memory.wrap(kllB))
      b
    }
  }
}
