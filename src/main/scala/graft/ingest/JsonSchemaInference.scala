package graft.ingest

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.types._

/** Distributed schema inference: the reference's whole-dataset fold
  * `reduce(merge, map(extract . parse, records))` (core.clj:22-27) as ONE
  * Spark job. Each task folds its lines into the policy's reducer clusters
  * ([[fold]]); the driver collects the handful of partials and normalizes
  * their clusters into one union ([[merge]]). No exchange, no second job.
  *
  * Clustering equals the pairwise `mergeTwo` fold because every record is
  * a document (or a top-level special) and `mergeable` is an equivalence
  * on them: equal keysets / equal kinds under [[StrictMerge]], equal kinds
  * under [[SimplifyMerge]]. Merge order within a cluster is free
  * (MonoidLawsSpec), so one normalization per call replaces one per record
  * (InferFoldSpec pins the two equal).
  *
  * Parse failures do NOT throw (parser.clj:16-28 semantics): they are
  * counted and reported alongside the schema.
  *
  * The JSON fold is fed by [[TypeExtractor.extractLine]], one walk over each
  * line's Jackson tokens straight to a SchemaType. `JsonParser.parseJsonLine`
  * + `extract` is its reference twin: it builds the JValue tree that
  * value consumers need, and ExtractLineSpec pins the two equal.
  */
object JsonSchemaInference {

  /** One share of the fold: the reducer's clusters, records seen, records failed. */
  final case class Buf(clusters: Vector[SchemaType], seen: Long, failed: Long)
  final case class Result(schema: Option[SchemaType], seen: Long, failed: Long) {
    def render: String = schema.map(SchemaType.render).getOrElse("<empty>")
  }

  /** Fold extracted records (`Left` = a failed line) into the clusters. */
  def fold(policy: MergePolicy, records: Iterator[Either[String, SchemaType]]): Buf = {
    var clusters = Vector.empty[SchemaType]
    var seen, failed = 0L
    records.foreach { r =>
      seen += 1
      r match {
        case Right(t) => clusters = policy.reduceInto(clusters, t)
        case Left(_)  => failed += 1
      }
    }
    Buf(clusters, seen, failed)
  }

  /** The driver merge: one union normalization over every share's clusters. */
  def merge(policy: MergePolicy, parts: Seq[Buf]): Result =
    Result(policy.turnIntoUnion(parts.flatMap(_.clusters)),
      parts.map(_.seen).sum, parts.map(_.failed).sum)

  /** One job: each task folds its lines through `record`, built once per
    * task from its own extractor; the driver merges the partials.
    */
  private[ingest] def foldLines(lines: Dataset[String], policy: MergePolicy,
                                dateFormats: Seq[String])(
      record: TypeExtractor => String => Either[String, SchemaType]): Result =
    merge(policy, lines.mapPartitions { it =>
      val extract = record(new TypeExtractor(policy, dateFormats))
      Iterator.single(fold(policy, it.map(extract)))
    }(Encoders.kryo[Buf]).collect().toSeq)

  /** Infer the merged observed schema of a Dataset of JSON lines. */
  def infer(lines: Dataset[String],
            policy: MergePolicy = StrictMerge,
            dateFormats: Seq[String] = Nil): Result =
    foldLines(lines, policy, dateFormats)(extractor => extractor.extractLine)

  /** Reference entry point S1/S2 analog: JSONL files -> schema. */
  def inferFiles(spark: SparkSession, paths: Seq[String],
                 policy: MergePolicy = StrictMerge,
                 dateFormats: Seq[String] = Nil): Result =
    infer(spark.read.textFile(paths: _*), policy, dateFormats)
}
