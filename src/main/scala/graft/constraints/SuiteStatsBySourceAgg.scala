package graft.constraints

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericRowWithSchema}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The [[SuiteStatsAgg]] fold keyed by source INSIDE one global
  * aggregate, so the whole per-source stats table can ride a
  * `df.observe(...)` CollectMetrics node on the violations scan — stats
  * and violations share ONE full-data pass. At 100 TB that is the
  * dominant cost, the table scan; the observe aggregation is a
  * map-side-partial monoid (per-task buffers merged by an accumulator,
  * KBs on the wire, never rows).
  *
  * The buffer is a hash map source -> [[SuiteStatsAgg.Buf]], updated by
  * [[SuiteStatsAgg.updateRow]] and read out by [[SuiteStatsAgg.evalBuf]].
  *
  * Precondition: the number of distinct sources is bounded. Every task
  * holds one buffer per source it sees and the Spark driver merges them
  * all, so memory is O(#sources) per task and driver-side — right for
  * partition-like source cardinality (the table's layout key), wrong for
  * an unbounded grouping key, which belongs in an aggregation exchange.
  *
  * Output: array<struct<source, stats>>, sorted by source (nulls first)
  * for deterministic row order.
  */
case class SuiteStatsBySourceAgg(
    source: Expression,
    docId: Expression,
    tokens: Expression,
    nTok: Expression,
    vocab: Int,
    minNtokCfg: Int,
    maxNtokCfg: Int,
    bins: Int,
    kllK: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SuiteStatsBySourceAgg.Bufs] {
  import SuiteStatsAgg.Buf
  import SuiteStatsBySourceAgg.Bufs

  override def children: Seq[Expression] = Seq(source, docId, tokens, nTok)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SuiteStatsBySourceAgg =
    copy(source = c(0), docId = c(1), tokens = c(2), nTok = c(3))

  override def createAggregationBuffer(): Bufs = mutable.HashMap.empty

  private lazy val binLut: Array[Int] =
    Array.tabulate(vocab)(t => (t.toLong * bins / vocab).toInt)

  override def update(m: Bufs, input: InternalRow): Bufs = {
    val s = Option(source.eval(input).asInstanceOf[UTF8String]).map(_.toString)
    val buf = m.getOrElseUpdate(s, new Buf(bins, kllK))
    SuiteStatsAgg.updateRow(buf,
      docId.eval(input).asInstanceOf[UTF8String],
      nTok.eval(input).asInstanceOf[Integer],
      tokens.eval(input),
      vocab, minNtokCfg, maxNtokCfg, bins, binLut)
    m
  }

  override def merge(a: Bufs, b: Bufs): Bufs = SuiteStatsBySourceAgg.merge(a, b)

  override def eval(m: Bufs): Any =
    new GenericArrayData(
      m.toSeq.sortBy(_._1).map { case (s, buf) =>
        InternalRow(
          s.map(UTF8String.fromString).orNull,
          SuiteStatsAgg.evalBuf(buf))
      }.toArray[Any])

  override def serialize(m: Bufs): Array[Byte] = SuiteStatsBySourceAgg.serialize(m)
  override def deserialize(bytes: Array[Byte]): Bufs =
    SuiteStatsBySourceAgg.deserialize(bytes, bins, kllK)

  override def withNewMutableAggBufferOffset(o: Int): SuiteStatsBySourceAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SuiteStatsBySourceAgg =
    copy(inputAggBufferOffset = o)

  override def dataType: DataType = SuiteStatsBySourceAgg.dataTypeDef
  override def nullable: Boolean = false
  override def prettyName: String = "suite_stats_by_source"
}

object SuiteStatsBySourceAgg {
  import SuiteStatsAgg.Buf

  /** source -> buffer: [[serialize]]d between tasks and in state files. */
  type Bufs = mutable.HashMap[Option[String], Buf]

  /** Fold `b` into `a`: buffers of a source merge, new sources join. */
  def merge(a: Bufs, b: Bufs): Bufs = {
    b.foreach { case (s, buf) =>
      a.get(s) match {
        case Some(mine) => mine.mergeIn(buf)
        case None       => a(s) = buf
      }
    }
    a
  }

  def serialize(m: Bufs): Array[Byte] = {
    val entries = m.toSeq.map { case (s, buf) =>
      (s.map(_.getBytes("UTF-8")), buf.toBytes)
    }
    val size = 4 + entries.map { case (sb, bb) =>
      1 + sb.map(_.length + 4).getOrElse(0) + 4 + bb.length
    }.sum
    val out = java.nio.ByteBuffer.allocate(size)
    out.putInt(entries.size)
    entries.foreach { case (sb, bb) =>
      sb match {
        case Some(b) => out.put(1.toByte); out.putInt(b.length); out.put(b)
        case None    => out.put(0.toByte)
      }
      out.putInt(bb.length); out.put(bb)
    }
    out.array()
  }

  def deserialize(bytes: Array[Byte], bins: Int, kllK: Int): Bufs = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val m = mutable.HashMap.empty[Option[String], Buf]
    val n = in.getInt()
    var i = 0
    while (i < n) {
      val s = if (in.get() == 1) {
        val len = in.getInt(); val b = new Array[Byte](len); in.get(b)
        Some(new String(b, "UTF-8"))
      } else None
      val blen = in.getInt(); val bb = new Array[Byte](blen); in.get(bb)
      m(s) = SuiteStatsAgg.Buf.fromBytes(bb, bins, kllK)
      i += 1
    }
    m
  }

  /** Stats rows ([[Validator.statsSchema]]) back into buffers. */
  def fromRows(rows: Array[Row], kllK: Int): Bufs =
    rows.foldLeft(new Bufs)((m, r) =>
      merge(m, mutable.HashMap(Option(r.getAs[String]("source")) -> Buf.fromRow(r, kllK))))

  /** Buffers as stats rows ([[Validator.statsSchema]]), sorted by source. */
  def statsRows(m: Bufs): Array[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(SuiteStatsAgg.schema)
    m.toSeq.sortBy(_._1).map { case (s, buf) =>
      val stats = toRow(SuiteStatsAgg.evalBuf(buf)).asInstanceOf[Row]
      new GenericRowWithSchema((s.orNull +: stats.toSeq).toArray, Validator.statsSchema): Row
    }.toArray
  }

  /** The suite fields stats and violations depend on. */
  def suiteKey(cfg: Validator.SuiteConfig): Seq[Int] =
    Seq(cfg.vocabSize, cfg.minNtok, cfg.maxNtok, cfg.tokenHistBins, cfg.kllK)

  /** Persisted stats (resume and stream state): suite key, then buffers. */
  def encodeState(key: Seq[Int], m: Bufs): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 * key.size)
    key.foreach(out.putInt)
    out.array() ++ serialize(m)
  }

  /** The stored key, and the buffers decoded with its bins and kllK. */
  def decodeState(bytes: Array[Byte]): (Seq[Int], Bufs) = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val key = Seq.fill(5)(in.getInt())
    (key, deserialize(bytes.drop(4 * key.size), bins = key(3), kllK = key(4)))
  }

  val dataTypeDef: ArrayType = ArrayType(StructType(Seq(
    StructField("source", StringType, nullable = true),
    StructField("stats", SuiteStatsAgg.schema, nullable = false))),
    containsNull = false)

  def suite_stats_by_source(source: Column, docId: Column, tokens: Column,
                            nTok: Column, cfg: Validator.SuiteConfig): Column =
    ColumnBridge.column(SuiteStatsBySourceAgg(
      ColumnBridge.expression(source), ColumnBridge.expression(docId),
      ColumnBridge.expression(tokens), ColumnBridge.expression(nTok),
      cfg.vocabSize, cfg.minNtok, cfg.maxNtok,
      cfg.tokenHistBins, cfg.kllK).toAggregateExpression())
}
