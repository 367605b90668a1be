package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.json.JsonParser
import graft.types._

/** Representative example-set selection (reference example_data.clj:36-92):
  * given a target schema (field -> type or union-of-types), pick a minimal
  * set of rows such that every (property, type-branch) pair of the schema
  * is exhibited by at least one selected row.
  *
  * The reference streams rows single-threaded with early stopping; the
  * Spark formulation explodes each row's exhibited (property, kind) pairs
  * and keeps the first row per pair (min row id) — one shuffle over
  * (pair, id), output size <= #pairs. Early-stop economy is preserved in
  * spirit by the aggregation's map-side partial min.
  */
object RepresentativeSample {

  /** The (property, type-kind) coverage targets of a schema
    * (schema->prop=>type=>seen, example_data.clj:71-78).
    */
  def coverageTargets(schema: DocT): Set[(String, String)] =
    // NB toSeq first: flatMap over the fields Map would rebuild a Map and
    // collapse a union's several (prop, kind) pairs onto one key
    schema.fields.toSeq.flatMap {
      case (prop, UnionT(ts)) => ts.toSeq.map(t => prop -> t.kind.name)
      case (prop, t)          => Seq(prop -> t.kind.name)
    }.toSet

  /** Exhibited pairs of one record's extracted type. */
  def exhibitedPairs(recordType: DocT): Seq[(String, String)] =
    recordType.fields.toSeq.map { case (p, t) => (p, t.kind.name) }

  /** Select representative JSON lines: returns (property, kind, row_idx,
    * line) rows, one line per covered (property, kind) pair (first by
    * line order). `row_idx` is an ORDER key, not a dense line number:
    * `monotonically_increasing_id` orders by partition first, then by
    * position within it — the input's line order, as `zipWithIndex` would
    * give, with gaps between partitions.
    */
  def fromJsonLines(lines: Dataset[String],
                    schema: DocT,
                    dateFormats: Seq[String] = Nil): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val targets = coverageTargets(schema)
    val targetB = spark.sparkContext.broadcast(targets)

    val pairs = lines
      .select(col(lines.columns.head), monotonically_increasing_id())
      .as[(String, Long)]
      .mapPartitions { it =>
        // one extractor per TASK, not per row (it carries merge/date-format
        // state; per-row construction was pure allocation pressure in the
        // scan that dominates this job)
        val extractor = new TypeExtractor(StrictMerge, dateFormats)
        it.flatMap { case (line, idx) =>
          extractor.extractLine(line).toOption.toSeq.flatMap {
            case d: DocT =>
              exhibitedPairs(d).filter(targetB.value.contains)
                .map { case (p, k) => (p, k, idx, line) }
            case _ => Nil
          }
        }
      }.toDF("property", "kind", "row_idx", "line")

    // first exhibiting row per pair
    pairs.groupBy($"property", $"kind")
      .agg(min(struct($"row_idx", $"line")).as("first"))
      .select($"property", $"kind",
        $"first.row_idx".as("row_idx"), $"first.line".as("line"))
  }

  /** Driver summary: does a corpus cover every pair of the schema, and
    * which rows form the minimal representative set?
    */
  def representativeSet(lines: Dataset[String], schema: DocT,
                        dateFormats: Seq[String] = Nil): (Seq[String], Set[(String, String)]) = {
    val picked = fromJsonLines(lines, schema, dateFormats).collect()
    val covered = picked.map(r => (r.getString(0), r.getString(1))).toSet
    val missing = coverageTargets(schema) -- covered
    (picked.map(_.getAs[String]("line")).distinct.toSeq, missing)
  }

  /** Binned example values per property (reference
    * example_data.clj:94-115 `make-binned-example-acc`): for each
    * top-level property, the set of distinct example values observed,
    * capped per property. Distributed: explode properties, distinct, cap
    * via per-property row_number.
    */
  def binnedExamples(lines: Dataset[String], maxPerProperty: Int = 20): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val pairs = lines.flatMap { line =>
      JsonParser.parseJsonLine(line).toOption.toSeq.flatMap { obj =>
        obj.fields.map { case (k, v) =>
          (k, graft.json.JsonRender.compact(v))
        }
      }
    }.toDF("property", "value").dropDuplicates("property", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"property").orderBy($"value")
    pairs.withColumn("rn", row_number().over(w))
      .filter($"rn" <= maxPerProperty)
      .groupBy($"property")
      .agg(sort_array(collect_list($"value")).as("examples"))
  }
}
