package graft.types

/** Scalar up-converters (reference data_converters.clj): coerce raw data of
  * one type to another with the reference's truthiness rules — numbers are
  * truthy, bools become 1/0, non-numerics become null, and ->integer
  * ROUNDS-HALF-UP (num-tower round, data_converters.clj:23-31), not
  * truncates. Pure JValue functions, pinned by the reference goldens.
  */
object Converters {

  def toNull(v: JValue): JValue = JNull

  def toBool(v: JValue): JValue = v match {
    case JNull => JNull
    case JBool(b) => JBool(b)
    case _ => JBool(true) // any non-nil non-false value is truthy in the reference
  }

  def toInteger(v: JValue): JValue = v match {
    case JInt(i) => JInt(i)
    // num-tower round = floor(x + 1/2): 5.5 -> 6, 5.4 -> 5
    case JReal(d) => JInt(BigDecimal(math.floor(d + 0.5)).toBigInt)
    case JBool(b) => JInt(if (b) 1 else 0)
    case _ => JNull
  }

  def toReal(v: JValue): JValue = v match {
    case JReal(d) => JReal(d)
    case JInt(i) => JReal(i.toDouble)
    case JBool(b) => JReal(if (b) 1.0 else 0.0)
    case _ => JNull
  }

  def toStr(v: JValue): JValue = v match {
    case JNull => JNull
    case JStr(s) => JStr(s)
    case JBool(b) => JStr(b.toString)
    case JInt(i) => JStr(i.toString)
    case JReal(d) => JStr(d.toString)
    case other => JStr(other.toString)
  }

  val byKind: Map[Kind, JValue => JValue] = Map(
    Kind.Null -> toNull,
    Kind.Bool -> toBool,
    Kind.Int -> toInteger,
    Kind.Real -> toReal,
    Kind.Str -> toStr,
    Kind.Date -> toStr)

  /** Converter plan for a document type: field -> converter fn
    * (data_converters.clj:51-56).
    */
  def makeTypeConverters(doc: DocT): Map[String, JValue => JValue] =
    doc.fields.map { case (k, t) => k -> byKind(t.kind) }
}
