package graft.tools

import graft.ingest.{CsvIngest, JsonSchemaInference}
import graft.types._

import scala.io.Source
import scala.util.Using

/** Local (non-Spark) schema analysis driver — the analog of the reference's
  * top-level entry point `analyze-json-schema` (core.clj:57-67): JSON-lines
  * files -> merged observed schema, printing `Analyzed N entries. K failed.`
  * For the distributed path over Parquet/JSONL at scale, see
  * [[graft.ingest.JsonSchemaInference]].
  *
  * Usage: SchemaCli [--analysis comprehensive|simple] [--date-format P]...
  *                  [--csv DELIM] [--header] [--export avro|mysql|vertica|table] file...
  */
object SchemaCli {
  def main(args: Array[String]): Unit = {
    var analysis = "comprehensive"
    var dateFormats = Vector.empty[String]
    var files = Vector.empty[String]
    var csvDelim: Option[String] = None
    var csvHeader = false
    var export: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--analysis"    => analysis = args(i + 1); i += 2
        case "--date-format" => dateFormats :+= args(i + 1); i += 2
        case "--csv"         => csvDelim = Some(args(i + 1)); i += 2
        case "--header"      => csvHeader = true; i += 1
        case "--export"      => export = Some(args(i + 1)); i += 2
        case f               => files :+= f; i += 1
      }
    }
    require(files.nonEmpty,
      "usage: SchemaCli [--analysis comprehensive|simple] [--date-format PATTERN]... " +
        "[--csv DELIM] [--header] [--export avro|mysql|vertica|table] FILE...")
    val policy: MergePolicy = analysis match {
      case "comprehensive" => StrictMerge
      case "simple"        => SimplifyMerge
      case other => sys.error(s"unknown --analysis '$other' (want comprehensive|simple)")
    }
    val extractor = new TypeExtractor(policy, dateFormats)

    var n = 0
    var csvHeaderNames: Option[Seq[String]] = None
    // one line's record for the shared fold; a CSV header line is none
    def record(line: String): Option[Either[String, SchemaType]] = csvDelim match {
      case Some(delim) if csvHeader && csvHeaderNames.isEmpty =>
        csvHeaderNames = Some(line.split(delim, -1).toSeq.map(_.trim))
        None
      case Some(delim) =>
        n += 1
        Some(Right(extractor.extract(CsvIngest.parseCsvLine(line, delim, csvHeaderNames))))
      case None =>
        n += 1
        val r = extractor.extractLine(line)
        r.left.foreach(err => System.err.println(s"Line #: $n, $err\n$line\n---------"))
        Some(r)
    }
    val res = JsonSchemaInference.merge(policy, files.map { f =>
      Using.resource(Source.fromFile(f, "UTF-8")) { src =>
        JsonSchemaInference.fold(policy, src.getLines().flatMap(record))
      }
    })
    println(s"Analyzed ${res.seen} entries. ${res.failed} failed.")
    res.schema.foreach(s => println(SchemaType.render(s)))

    (export, res.schema) match {
      case (Some("avro"), Some(s)) =>
        println(graft.export.AvroExport.toAvro(s))
      case (Some(dialect @ ("mysql" | "vertica" | "table")), Some(s)) =>
        Transform.dbTablify(s) match {
          case None =>
            System.err.println(s"schema is not translatable to a flat table")
          case Some(flat) =>
            val translator: SchemaType => String = dialect match {
              case "mysql"   => graft.dbtypes.MySqlTranslator.schemaTypeToColType
              case "vertica" => graft.dbtypes.VerticaTranslator.schemaTypeToColType
              case _         => t => SchemaType.render(t)
            }
            flat.fields.toSeq.sortBy(_._1).foreach { case (k, t) =>
              println(s"  $k ${translator(t)}")
            }
        }
      case (Some(other), Some(_)) =>
        System.err.println(s"unknown --export '$other'")
      case _ => ()
    }
  }
}
