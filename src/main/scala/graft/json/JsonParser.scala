package graft.json

import com.fasterxml.jackson.core.{JsonFactory, JsonProcessingException}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.types._

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** JSON-line parsing with the reference's "revival" semantics
  * (reference parser.clj):
  *
  *  - strict JSON parse (Jackson, like the reference's cheshire) —
  *    parse failures are reported to an error channel, not thrown
  *    (parser.clj:16-28);
  *  - `jsonify` revival of top-level values (parser.clj:128-140):
  *    strings that look like embedded/escaped JSON (`[...]`/`{...}`,
  *    possibly multiply backslash-escaped) are unescaped one level at a
  *    time and re-parsed recursively; strings matching a strict
  *    no-leading-zeros numeric regex are coerced to 64-bit numbers
  *    (overflow -> stays string, parser.clj:62-70).
  */
object JsonParser {
  private val mapper = new ObjectMapper()

  /** The mapper's own factory: same parser features and read constraints
    * as [[parseJsonLine]], for token-level readers of the same lines.
    */
  private[graft] def factory: JsonFactory = mapper.getFactory

  // strict int/real regexes with no leading zeros (parser.clj:62-65)
  private val intRe: Regex = "(^[\\-]?[1-9]\\d*$)|(^[\\-]?0$)".r
  private val realRe: Regex = "(^[\\-]?[1-9]\\d*\\.\\d+$)|(^[\\-]?0\\.\\d+$)".r
  // >=2 consecutive backslashes, or backslash(es) before a quote (parser.clj:76-88)
  private val innerEscapedRe: Regex = "\\\\{2,}".r
  private val escapedQuoteRe: Regex = "\\\\+\"".r
  // peel exactly one escape level: (\\+)" -> drop one backslash (parser.clj:42-47)
  private val unescapeRe: Regex = "(\\\\+)\"".r

  /** String -> Long/Double coercion; 64-bit overflow stays a string
    * (parser.clj:62-70; boundary golden parser_test.clj:22-34).
    */
  def numberIfNumber(s: String): Option[JValue] = s match {
    case intRe(_*) =>
      val v = BigInt(s)
      if (v.bitLength <= 63) Some(JInt(v)) else None
    case realRe(_*) => Some(JReal(s.toDouble))
    case _          => None
  }

  private def firstAndLastAre(s: String, first: Char, last: Char): Boolean =
    s.nonEmpty && s.charAt(0) == first && s.charAt(s.length - 1) == last

  private def possiblyInnerEscaped(s: String): Boolean =
    innerEscapedRe.findFirstIn(s).isDefined ||
      escapedQuoteRe.findFirstIn(s).isDefined

  private def unescapeOneLevel(s: String): String =
    unescapeRe.replaceAllIn(s, m =>
      Regex.quoteReplacement(m.group(1).substring(1) + "\""))

  private def tryParse(s: String): Option[JsonNode] =
    try Some(mapper.readTree(s))
    catch { case _: JsonProcessingException => None }

  /** Jackson node -> JValue, verbatim (no revival). */
  def fromJackson(n: JsonNode): JValue =
    if (n == null || n.isNull) JNull
    else if (n.isBoolean) JBool(n.asBoolean())
    else if (n.isIntegralNumber) JInt(BigInt(n.bigIntegerValue()))
    else if (n.isNumber) JReal(n.doubleValue())
    else if (n.isTextual) JStr(n.textValue())
    else if (n.isArray) JArr(n.elements().asScala.map(fromJackson).toVector)
    else if (n.isObject)
      JObj(n.properties().asScala.map(e => e.getKey -> fromJackson(e.getValue)).toMap)
    else JStr(n.toString)

  /** Reference attempt order first (one peel, then the raw string —
    * parser.clj:92-126), then KEEP peeling until a parse succeeds.
    *
    * The extra peeling is a DELIBERATE deviation from the literal
    * reference code, forced by its own golden: nested-escaped-json.js
    * (parser_test.clj:6-13) carries level-2 values escaped TWO levels
    * deep (`\\\"` -> after one peel `\\"` -> the `\\` escape closes the
    * quoted string early, still invalid JSON), so unescape-one-level
    * alone can never revive it — only a second peel of the same string
    * can. We treat the golden as the semantic spec over the code it
    * tests. Consequence (pinned in ParserSpec): strings needing >= 2
    * peels are revived here where the literal reference code would leave
    * them as strings. Each level removes one backslash per quote, so the
    * loop strictly shrinks and is bounded.
    */
  private def parseRevived(s: String): Option[JValue] =
    if (possiblyInnerEscaped(s)) {
      val oneLevel = unescapeOneLevel(s)
      var res = tryParse(oneLevel).orElse(tryParse(s))
      var cur = oneLevel
      var guard = 0
      while (res.isEmpty && guard < 8) {
        val next = unescapeOneLevel(cur)
        if (next == cur) guard = 8
        else { cur = next; res = tryParse(cur); guard += 1 }
      }
      res.map(fromJackson)
    } else tryParse(s).map(fromJackson)

  // revival recurses into the revived content's elements/values
  // (parser.clj:91-126: `map jsonify` / `project-map :value-xform jsonify`)
  private def arrayIfArray(s: String): Option[JValue] =
    if (firstAndLastAre(s, '[', ']'))
      parseRevived(s).collect { case JArr(items) => JArr(items.map(jsonify)) }
    else None

  private def mapIfMap(s: String): Option[JValue] =
    if (firstAndLastAre(s, '{', '}'))
      parseRevived(s).collect { case JObj(fields) =>
        JObj(fields.map { case (k, v) => k -> jsonify(v) })
      }
    else None

  /** Recursive embedded-JSON revival (parser.clj:128-133). Applied to each
    * top-level value of a parsed record, and recursively within revived
    * content — NOT within already-parsed nested structures, exactly like
    * `parse-json-string`'s `project-map` (parser.clj:136-140).
    */
  def jsonify(v: JValue): JValue = v match {
    case JStr(s) =>
      mapIfMap(s)
        .orElse(arrayIfArray(s))
        .orElse(numberIfNumber(s))
        .getOrElse(v)
    case other => other
  }

  /** Parse one JSON line into a revived record. Returns Left(errorMessage)
    * on a malformed line — the violation-row channel (parser.clj:16-28).
    */
  def parseJsonLine(line: String): Either[String, JObj] =
    try {
      val node = mapper.readTree(line)
      fromJackson(node) match {
        case JObj(fields) =>
          Right(JObj(fields.map { case (k, v) => k -> jsonify(v) }))
        case _ =>
          // non-object line: the reference's project-map yields {}
          Right(JObj(Map.empty))
      }
    } catch {
      case e: JsonProcessingException => Left(e.getOriginalMessage)
    }
}

/** Compact JSON rendering of a JValue (for example binning / reports). */
object JsonRender {
  def compact(v: JValue): String = v match {
    case JNull => "null"
    case JBool(b) => b.toString
    case JInt(i) => i.toString
    case JReal(d) => d.toString
    case JStr(s) => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case JArr(items) => items.map(compact).mkString("[", ",", "]")
    case JObj(fields) =>
      fields.toSeq.sortBy(_._1)
        .map { case (k, fv) => compact(JStr(k)) + ":" + compact(fv) }
        .mkString("{", ",", "}")
  }
}
