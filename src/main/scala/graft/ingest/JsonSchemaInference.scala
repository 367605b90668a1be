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
  * (InferFoldSpec pins the two equal). Within a task each cluster is a
  * mutable accumulator with the absorb-or-fallback contract of
  * [[graft.types.TypeAcc]]: a record of the cluster's shape is absorbed in
  * place, and a node whose merge changes shape falls back to `mergeTwo` on
  * its frozen value. FoldKernelSpec pins the fold against
  * `reduceOption(mergeTwo)`.
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

  /** Fold extracted records (`Left` = a failed line) into the clusters,
    * each a mutable accumulator ([[Clusters]]): a record of its cluster's
    * shape is absorbed in place, and only where the merge changes a node's
    * shape (a union, another nested keyset) does that node fall back to
    * `mergeTwo`. The share keeps the frozen clusters.
    */
  def fold(policy: MergePolicy, records: Iterator[Either[String, SchemaType]]): Buf = {
    val clusters = new Clusters(policy)
    var seen, failed = 0L
    records.foreach { r =>
      seen += 1
      r match {
        case Right(t) => clusters.absorb(t)
        case Left(_)  => failed += 1
      }
    }
    Buf(clusters.frozen, seen, failed)
  }

  /** The driver merge: one union normalization over every share's clusters. */
  def merge(policy: MergePolicy, parts: Seq[Buf]): Result =
    Result(policy.turnIntoUnion(parts.flatMap(_.clusters)),
      parts.map(_.seen).sum, parts.map(_.failed).sum)

  /** One job: each task folds its lines through `record`, built once per
    * task from its own extractor; the driver merges the partials. The
    * partials travel Java-serialized: Kryo spent about 5 ms more per
    * `infer_jsonl` operation, mostly decoding them on the driver.
    */
  private[ingest] def foldLines(lines: Dataset[String], policy: MergePolicy,
                                dateFormats: Seq[String])(
      record: TypeExtractor => String => Either[String, SchemaType]): Result =
    merge(policy, lines.mapPartitions { it =>
      val extract = record(new TypeExtractor(policy, dateFormats))
      Iterator.single(fold(policy, it.map(extract)))
    }(Encoders.javaSerialization[Buf]).collect().toSeq)

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
