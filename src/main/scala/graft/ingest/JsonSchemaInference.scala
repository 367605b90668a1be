package graft.ingest

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

import graft.types._

/** Distributed schema inference: the reference's whole-dataset fold
  * `reduce(merge, map(extract . parse, records))` (core.clj:22-27)
  * re-expressed as a typed Spark Aggregator — per-partition partial
  * reduction into a SchemaType buffer, then a merge tree across
  * partitions. The proven commutativity of the merge monoid
  * (merge_test.clj:484-496; our MonoidLawsSpec) is exactly what makes the
  * partial/final split sound.
  *
  * Parse failures do NOT throw (parser.clj:16-28 semantics): they are
  * counted into the buffer and reported alongside the schema.
  *
  * The fold is fed by [[TypeExtractor.extractLine]], one walk over each
  * line's Jackson tokens straight to a SchemaType. `JsonParser.parseJsonLine`
  * + `extract` is its reference twin: it builds the JValue tree that
  * value consumers need, and ExtractLineSpec pins the two equal.
  */
object JsonSchemaInference {

  /** (merged schema or None, records seen, records failed) */
  final case class Buf(schema: Option[SchemaType], seen: Long, failed: Long)
  final case class Result(schema: Option[SchemaType], seen: Long, failed: Long) {
    def render: String = schema.map(SchemaType.render).getOrElse("<empty>")
  }

  final class SchemaAgg(
      policy: MergePolicy,
      dateFormats: Seq[String]) extends Aggregator[String, Buf, Result] {

    @transient private lazy val extractor = new TypeExtractor(policy, dateFormats)

    override def zero: Buf = Buf(None, 0L, 0L)

    override def reduce(b: Buf, line: String): Buf =
      extractor.extractLine(line) match {
        case Right(t) =>
          Buf(Some(b.schema.fold(t)(s => policy.mergeTwo(s, t))), b.seen + 1, b.failed)
        case Left(_) =>
          Buf(b.schema, b.seen + 1, b.failed + 1)
      }

    override def merge(a: Buf, b: Buf): Buf = {
      val merged = (a.schema, b.schema) match {
        case (Some(x), Some(y)) => Some(policy.mergeTwo(x, y))
        case (x, y)             => x.orElse(y)
      }
      Buf(merged, a.seen + b.seen, a.failed + b.failed)
    }

    override def finish(b: Buf): Result = Result(b.schema, b.seen, b.failed)

    override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    override def outputEncoder: Encoder[Result] = Encoders.kryo[Result]
  }

  /** Infer the merged observed schema of a Dataset of JSON lines. */
  def infer(lines: Dataset[String],
            policy: MergePolicy = StrictMerge,
            dateFormats: Seq[String] = Nil): Result = {
    import lines.sparkSession.implicits._
    lines.select(new SchemaAgg(policy, dateFormats).toColumn).collect()(0)
  }

  /** Reference entry point S1/S2 analog: JSONL files -> schema. */
  def inferFiles(spark: SparkSession, paths: Seq[String],
                 policy: MergePolicy = StrictMerge,
                 dateFormats: Seq[String] = Nil): Result =
    infer(spark.read.textFile(paths: _*), policy, dateFormats)
}
