package graft.types

import java.text.{ParsePosition, SimpleDateFormat}

import com.fasterxml.jackson.core.{JsonParseException, JsonProcessingException}
import com.fasterxml.jackson.core.{JsonParser => JacksonParser}
import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.core.JsonTokenId._

import graft.json.JsonParser

/** Minimal dynamic-value model the extractor walks (the reference walks
  * Clojure maps/vectors parsed from JSON lines, extract.clj:111-132).
  */
sealed trait JValue extends Serializable
case object JNull extends JValue
final case class JBool(value: Boolean) extends JValue
final case class JInt(value: BigInt) extends JValue
final case class JReal(value: Double) extends JValue
final case class JStr(value: String) extends JValue
final case class JArr(items: Vector[JValue]) extends JValue
final case class JObj(fields: Map[String, JValue]) extends JValue

object JValue {
  def obj(fields: (String, JValue)*): JObj = JObj(fields.toMap)
  def arr(items: JValue*): JArr = JArr(items.toVector)
  implicit def fromInt(v: Int): JValue = JInt(BigInt(v))
  implicit def fromLong(v: Long): JValue = JInt(BigInt(v))
  implicit def fromDouble(v: Double): JValue = JReal(v)
  implicit def fromString(s: String): JValue = JStr(s)
  implicit def fromBoolean(b: Boolean): JValue = JBool(b)
}

/** Exception-free date sniffing (reference extract.clj:48-79).
  *
  * A string "is a date" iff >=1 configured SimpleDateFormat pattern parses a
  * NON-EMPTY PREFIX of it — `ParsePosition` semantics, so "2013-01-01asdf"
  * IS a date (documented quirk, extract_test.clj:38-43). Formats are lenient
  * (SimpleDateFormat default), so "2-10-10" matches "yyyy-MM-dd"
  * (extract_test.clj:155-157). Parser objects are cached per-thread
  * (SimpleDateFormat is not thread-safe); the reference memoizes
  * construction (extract.clj:71-72).
  */
final class DateSniffer(val patterns: Seq[String]) extends Serializable {
  @transient private lazy val formats =
    new ThreadLocal[Array[SimpleDateFormat]] {
      override def initialValue(): Array[SimpleDateFormat] =
        patterns.map(p => new SimpleDateFormat(p)).toArray
    }

  private def parseablePrefix(fmt: SimpleDateFormat, s: String): Boolean = {
    val pos = new ParsePosition(0)
    fmt.parse(s, pos)
    pos.getIndex != 0
  }

  /** All patterns that match, in configured order. */
  def matching(s: String): Seq[String] = {
    if (patterns.isEmpty) return Nil
    val fs = formats.get()
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < fs.length) {
      if (parseablePrefix(fs(i), s)) out += patterns(i)
      i += 1
    }
    out.result()
  }

  def isDate(s: String): Boolean = matching(s).nonEmpty
}

/** The special-scalar extension channel (reference extract.clj:81-90:
  * special-id?/make-special — "prove out we can do things like handle
  * mongo's date and id representations"). A recognizer claims a value and
  * maps it to a [[SpecialT]]; registered recognizers are consulted FIRST,
  * before every built-in kind, mirroring the reference cond order
  * (extract.clj:115-116 puts `special?` ahead of even `null?`). The
  * reference ships only the always-false stub; the default registry here
  * is correspondingly empty.
  */
trait SpecialScalar extends Serializable {
  def name: String
  def matches(x: JValue): Boolean
}

/** Per-value type extraction (reference extract.clj:111-132): value ->
  * scalar type with stats; object -> DocT (recurse per key); array ->
  * collection whose element types are unified eagerly BY THE POLICY'S
  * REDUCER — merge vs simplify produce different types for the same single
  * record (extract_test.clj:300-337).
  *
  * Two entry points with one meaning: [[extract]] walks a parsed
  * [[JValue]] tree, [[extractLine]] walks a JSON line's token stream
  * directly. `extractLine(l) == JsonParser.parseJsonLine(l).map(extract)`
  * (ExtractLineSpec); the tree walk is the reference twin.
  */
final class TypeExtractor(
    policy: MergePolicy,
    dateFormatPatterns: Seq[String] = Nil,
    specials: Seq[SpecialScalar] = Nil) extends Serializable {

  private val sniffer = new DateSniffer(dateFormatPatterns)

  def extract(x: JValue): SchemaType =
    specials.find(_.matches(x)) match {
      case Some(sp) => SpecialT(sp.name)
      case None => x match {
        case JNull       => NullT
        case JBool(_)    => BoolT
        case JInt(v)     => IntT(v, v)
        case JReal(v)    => RealT(v, v)
        case JStr(s)     => stringType(s)
        case JObj(fields) =>
          DocT(fields.map { case (k, v) => k -> extract(v) })
        case JArr(items) =>
          policy.turnIntoCollection(items.map(extract))
      }
    }

  private def stringType(s: String): SchemaType = {
    val fmts = sniffer.matching(s)
    if (fmts.nonEmpty) DateT(fmts.toSet) else StrT.of(s)
  }

  /** The type of one JSON line in a single pass over Jackson's tokens: no
    * Jackson tree, no [[JValue]] tree, and array elements folded through
    * the policy's reducer as they arrive. Same result as
    * `JsonParser.parseJsonLine(line).map(extract)`, same parse semantics:
    * a blank line or a non-object value is the empty document, content
    * after the first value is ignored, a duplicate key keeps its last
    * value, and `jsonify` revival applies to top-level string values only.
    * Registered specials recognize a [[JValue]], so with any registered
    * the line goes through the tree instead.
    */
  def extractLine(line: String): Either[String, SchemaType] =
    if (specials.nonEmpty) JsonParser.parseJsonLine(line).map(extract)
    else {
      val p = JsonParser.factory.createParser(line)
      try {
        val id = nextId(p)
        if (id == ID_START_OBJECT) Right(walkObject(p, topLevel = true))
        else {
          // a non-object value must still parse; no token at all is a blank line
          if (id != ID_NO_TOKEN) walk(p, id)
          Right(DocT(Map.empty))
        }
      } catch {
        case e: JsonProcessingException => Left(e.getOriginalMessage)
      } finally p.close()
    }

  private def nextId(p: JacksonParser): Int = { p.nextToken(); p.currentTokenId }

  private def walk(p: JacksonParser, id: Int): SchemaType = id match {
    case ID_START_OBJECT => walkObject(p, topLevel = false)
    case ID_START_ARRAY  => walkArray(p)
    case ID_STRING       => stringType(p.getText)
    case ID_NUMBER_INT =>
      IntT.of(if (p.getNumberType == NumberType.BIG_INTEGER) BigInt(p.getBigIntegerValue)
              else BigInt(p.getLongValue))
    case ID_NUMBER_FLOAT    => RealT.of(p.getDoubleValue)
    case ID_TRUE | ID_FALSE => BoolT
    case ID_NULL            => NullT
    case _ => throw new JsonParseException(p, s"Unexpected token ${p.currentToken}")
  }

  private def walkObject(p: JacksonParser, topLevel: Boolean): DocT = {
    val fields = Map.newBuilder[String, SchemaType]
    while (nextId(p) == ID_FIELD_NAME) {
      val key = p.currentName
      val id = nextId(p)
      fields += key -> (
        if (topLevel && id == ID_STRING) extract(JsonParser.jsonify(JStr(p.getText)))
        else walk(p, id))
    }
    DocT(fields.result()) // Jackson throws unless the object closed
  }

  /** Array elements fold through the policy's reducer as they arrive,
    * except 64-bit integers: under both policies an `IntT` merges only
    * with an `IntT`, by min/max (MonoidLawsSpec), so two running longs
    * reduced as one `IntT` at the close give the same clusters. Integers
    * beyond 64 bits take the reducer and meet that `IntT` there.
    */
  private def walkArray(p: JacksonParser): CollT = {
    var merged = Vector.empty[SchemaType]
    var ints = false
    var lo, hi = 0L
    var id = nextId(p)
    while (id != ID_END_ARRAY) {
      if (id == ID_NUMBER_INT && p.getNumberType != NumberType.BIG_INTEGER) {
        val v = p.getLongValue
        if (!ints) { ints = true; lo = v; hi = v }
        else if (v < lo) lo = v
        else if (v > hi) hi = v
      } else merged = policy.reduceInto(merged, walk(p, id))
      id = nextId(p)
    }
    if (ints) merged = policy.reduceInto(merged, IntT(lo, hi))
    policy.reducedCollection(merged)
  }
}

object TypeExtractor {
  def merging(dateFormatPatterns: Seq[String] = Nil): TypeExtractor =
    new TypeExtractor(StrictMerge, dateFormatPatterns)
  def simplifying(dateFormatPatterns: Seq[String] = Nil): TypeExtractor =
    new TypeExtractor(SimplifyMerge, dateFormatPatterns)
}
