package graft.ingest

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.json.JsonParser
import graft.types._

/** CSV-lines -> schema (reference core.clj:73-95): naive delimiter split
  * (no escaped-delimiter handling, documented there), per-value trim and
  * stringified-number coercion, header row or generated colN names.
  */
object CsvIngest {

  /** parse-csv-val (core.clj:73-76): numbers coerce, everything else is a
    * string.
    */
  def parseCsvValue(raw: String): JValue =
    JsonParser.numberIfNumber(raw).getOrElse(JStr(raw))

  /** parse-csv-line (core.clj:78-87). */
  def parseCsvLine(line: String, delimiter: String,
                   header: Option[Seq[String]]): JObj = {
    val values = line.split(delimiter, -1).toSeq.map(v => parseCsvValue(v.trim))
    val names = header.getOrElse(values.indices.map(i => s"col$i"))
    JObj(names.zip(values).toMap)
  }

  /** Distributed csv-file-to-schema: same extract-then-merge fold as the
    * JSON path, driven by the CSV line parser.
    */
  def inferSchema(lines: Dataset[String],
                  delimiter: String = ",",
                  header: Option[Seq[String]] = None,
                  policy: MergePolicy = StrictMerge,
                  dateFormats: Seq[String] = Nil): Option[SchemaType] = {
    import lines.sparkSession.implicits._
    val types = lines.mapPartitions { it =>
      val extractor = new TypeExtractor(policy, dateFormats)
      var acc: Option[SchemaType] = None
      it.foreach { line =>
        val t = extractor.extract(parseCsvLine(line, delimiter, header))
        acc = Some(acc.fold(t)(s => policy.mergeTwo(s, t)))
      }
      acc.iterator
    }(org.apache.spark.sql.Encoders.kryo[SchemaType])
    // one partial per partition survives; the driver folds the handful
    types.collect().reduceOption((a, b) => policy.mergeTwo(a, b))
  }
}
