package graft.types

/** Observed-schema type ADT — the engine's IR.
  *
  * Semantics follow the reference's type system
  * (/root/reference/src/jsonschema/type_system/types.clj:28-61, 169-179):
  * every scalar type carries its observed statistics inline (the type IS the
  * stat sketch), complex types are structural, and set-based members make
  * equality order-independent (types.clj:115-118, 238-242).
  *
  *  - `IntT`/`RealT` carry observed value min/max (types.clj:28-40).
  *  - `StrT` carries observed LENGTH min/max, not values (types.clj:42-47,
  *    104-107).
  *  - `DateT` carries the set of date-format patterns the observed strings
  *    matched (types.clj:57-61).
  *  - `DocT` is a nested object: field name -> type (types.clj:169-171). The
  *    reference's `:properties` keyset is `fields.keySet` here.
  *  - `CollT(None)` is the reference's `Collection{:coll-of :nothing}`
  *    sentinel for an observed empty collection (types.clj:209-213).
  *  - `UnionT` is a set of mutually non-mergeable types (types.clj:173-175);
  *    canonical unions are flat and pairwise-incongruent — enforced by
  *    [[Merge.turnIntoUnion]], never by this constructor (types.clj:217-230).
  *
  * `IntT` uses BigInt so declared-schema bounds (e.g. a SQL NUMERIC with
  * 1024 digits, reference vertica.clj:258-259) are representable exactly.
  */
sealed trait SchemaType extends Serializable {
  /** Type sigil, mirroring the reference's `getType` keyword. */
  def kind: Kind
}

sealed abstract class Kind(val name: String) extends Serializable
object Kind {
  case object Null extends Kind("null")
  case object Bool extends Kind("bool")
  case object Int extends Kind("int")
  case object Real extends Kind("real")
  case object Str extends Kind("str")
  case object Date extends Kind("date")
  case object Document extends Kind("document")
  case object Collection extends Kind("collection")
  case object Union extends Kind("union")

  /** A registered special scalar kind (reference extract.clj:83-90's
    * special-id?/make-special extension channel — "handle mongo's date
    * and id representations"). Equality is by name, so two extractors
    * registering the same special agree on kind identity.
    */
  final case class Special(override val name: String) extends Kind(name)

  /** Open scalar registry (reference types.clj:79-87; `scalar-type?`
    * takes an optional registry there, mirrored by [[SchemaType.isScalar]]'s
    * registry overload — Special kinds are scalar by construction).
    */
  val scalars: Set[Kind] = Set(Null, Bool, Int, Real, Str, Date)
}

case object NullT extends SchemaType { def kind: Kind = Kind.Null }
case object BoolT extends SchemaType { def kind: Kind = Kind.Bool }

final case class IntT(min: BigInt, max: BigInt) extends SchemaType {
  def kind: Kind = Kind.Int
}
object IntT { def of(v: BigInt): IntT = IntT(v, v) }

final case class RealT(min: Double, max: Double) extends SchemaType {
  def kind: Kind = Kind.Real
}
object RealT { def of(v: Double): RealT = RealT(v, v) }

/** min/max observed string LENGTH (reference types.clj:104-107). */
final case class StrT(minLen: Long, maxLen: Long) extends SchemaType {
  def kind: Kind = Kind.Str
}
object StrT { def of(s: String): StrT = StrT(s.length.toLong, s.length.toLong) }

final case class DateT(formats: Set[String]) extends SchemaType {
  def kind: Kind = Kind.Date
}
object DateT { def of(formats: String*): DateT = DateT(formats.toSet) }

final case class DocT(fields: Map[String, SchemaType]) extends SchemaType {
  def kind: Kind = Kind.Document
  def properties: Set[String] = fields.keySet
  def isEmptyDoc: Boolean = fields.isEmpty
}

/** `elem == None` is the empty-collection sentinel `:nothing`. */
final case class CollT(elem: Option[SchemaType]) extends SchemaType {
  def kind: Kind = Kind.Collection
}
object CollT {
  val nothing: CollT = CollT(None)
  def of(t: SchemaType): CollT = CollT(Some(t))
}

/** A special scalar instance produced by a registered
  * [[SpecialScalar]] recognizer (reference extract.clj:81-90). Carries no
  * per-value stats — the reference's make-special channel is a pure kind
  * tag; recognizers needing stats can model them downstream.
  */
final case class SpecialT(name: String) extends SchemaType {
  def kind: Kind = Kind.Special(name)
}

final case class UnionT(types: Set[SchemaType]) extends SchemaType {
  def kind: Kind = Kind.Union
  def documents: Set[DocT] = types.collect { case d: DocT => d }
}
object UnionT { def of(ts: SchemaType*): UnionT = UnionT(ts.toSet) }

object SchemaType {
  def isScalar(t: SchemaType): Boolean =
    Kind.scalars.contains(t.kind) || t.kind.isInstanceOf[Kind.Special]
  /** Registry overload (reference types.clj:82-87 scalar-type? arity-2). */
  def isScalar(registry: Set[Kind], t: SchemaType): Boolean =
    registry.contains(t.kind)

  /** Same-typed scalar combine (reference types.clj:125-161):
    * ranged scalars take range union, dates take format-set union,
    * bool/null are identity.
    */
  def mergeSameKindScalars(a: SchemaType, b: SchemaType): SchemaType =
    (a, b) match {
      case (IntT(min1, max1), IntT(min2, max2)) =>
        IntT(min1 min min2, max1 max max2)
      case (RealT(min1, max1), RealT(min2, max2)) =>
        RealT(math.min(min1, min2), math.max(max1, max2))
      case (StrT(min1, max1), StrT(min2, max2)) =>
        StrT(math.min(min1, min2), math.max(max1, max2))
      case (DateT(f1), DateT(f2)) => DateT(f1 union f2)
      case (BoolT, BoolT)         => BoolT
      case (NullT, NullT)         => NullT
      case (s @ SpecialT(n1), SpecialT(n2)) if n1 == n2 => s
      case _ =>
        throw new IllegalArgumentException(
          s"cannot merge-same-typed-scalars: ${a.kind} vs ${b.kind}")
    }

  /** Compact single-line rendering for reports/debugging. */
  def render(t: SchemaType): String = t match {
    case NullT            => "null"
    case BoolT            => "bool"
    case IntT(mn, mx)     => s"int[$mn,$mx]"
    case RealT(mn, mx)    => s"real[$mn,$mx]"
    case StrT(mn, mx)     => s"str[len $mn,$mx]"
    case DateT(fs)        => fs.toSeq.sorted.mkString("date{", ",", "}")
    case SpecialT(n)      => s"special<$n>"
    case DocT(fields) =>
      fields.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k:${render(v)}" }
        .mkString("doc{", ",", "}")
    case CollT(None)      => "coll[]"
    case CollT(Some(e))   => s"coll[${render(e)}]"
    case UnionT(ts)       =>
      ts.toSeq.map(render).sorted.mkString("union<", "|", ">")
  }
}
