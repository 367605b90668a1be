package graft.ingest

import org.apache.spark.sql.Dataset

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

  /** Distributed csv-file-to-schema: the JSON path's one-job fold
    * ([[JsonSchemaInference.foldLines]]), driven by the CSV line parser.
    */
  def inferSchema(lines: Dataset[String],
                  delimiter: String = ",",
                  header: Option[Seq[String]] = None,
                  policy: MergePolicy = StrictMerge,
                  dateFormats: Seq[String] = Nil): Option[SchemaType] =
    JsonSchemaInference.foldLines(lines, policy, dateFormats) { extractor => line =>
      Right(extractor.extract(parseCsvLine(line, delimiter, header)))
    }.schema
}
