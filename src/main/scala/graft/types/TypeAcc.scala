package graft.types

import scala.collection.mutable.ArrayBuffer

/** A mutable accumulator mirroring one [[SchemaType]] node of a merge fold.
  *
  * The absorb-or-fallback contract: `absorb(t)` returns an accumulator
  * whose [[freeze]] equals `policy.mergeTwo(freeze, t)`. A value of the
  * same shape is absorbed in place and the accumulator returns itself:
  * a same-kind scalar (ranges by `mergeSameKindScalars`' operators, date
  * formats by set union), a document the policy merges into a document
  * (an equal keyset under [[StrictMerge]], any document under
  * [[SimplifyMerge]]; each field absorbs in turn), or a collection whose
  * element absorbs in place. Anything else falls back to `mergeTwo` on the
  * frozen value, and the node holds that immutable result from then on:
  * a field that becomes a union, a nested document with another keyset,
  * an integer beyond 64 bits.
  */
private[graft] sealed abstract class TypeAcc {
  def kind: Kind
  def freeze: SchemaType
  def absorb(t: SchemaType): TypeAcc
  /** `Congruence.congruent(freeze, t)`. */
  def congruent(t: SchemaType): Boolean
}

private[graft] object TypeAcc {
  def of(policy: MergePolicy, t: SchemaType): TypeAcc = t match {
    case IntT(mn, mx) if mn.isValidLong && mx.isValidLong =>
      new IntAcc(policy, mn.toLong, mx.toLong)
    case RealT(mn, mx) => new RealAcc(policy, mn, mx)
    case StrT(mn, mx)  => new StrAcc(policy, mn, mx)
    case DateT(fs)     => new DateAcc(policy, fs)
    case DocT(fields) =>
      val acc = new DocAcc(policy)
      fields.foreach { case (k, v) => acc.fields.put(k, of(policy, v)) }
      acc
    case CollT(e) => new CollAcc(policy, e.map(of(policy, _)).orNull)
    case _        => new Frozen(policy, t)
  }

  private def lenient(policy: MergePolicy): Boolean = policy eq SimplifyMerge

  /** The immutable fallback: every absorb is `mergeTwo`. */
  private final class Frozen(policy: MergePolicy, val freeze: SchemaType) extends TypeAcc {
    def kind: Kind = freeze.kind
    def absorb(t: SchemaType): TypeAcc =
      if (t eq freeze) this // idempotence
      else {
        val m = policy.mergeTwo(freeze, t)
        if (m eq freeze) this else new Frozen(policy, m)
      }
    def congruent(t: SchemaType): Boolean = Congruence.congruent(freeze, t)
  }

  /** The node's frozen value merged with `t`, immutable from then on. */
  private def fallback(policy: MergePolicy, acc: TypeAcc, t: SchemaType): TypeAcc =
    new Frozen(policy, policy.mergeTwo(acc.freeze, t))

  private sealed abstract class ScalarAcc extends TypeAcc {
    final def congruent(t: SchemaType): Boolean = t.kind == kind
  }

  private final class IntAcc(policy: MergePolicy, var lo: Long, var hi: Long)
      extends ScalarAcc {
    def kind: Kind = Kind.Int
    def freeze: SchemaType = IntT(BigInt(lo), BigInt(hi))
    def absorb(t: SchemaType): TypeAcc = t match {
      case IntT(mn, mx) if mn.isValidLong && mx.isValidLong =>
        lo = math.min(lo, mn.toLong); hi = math.max(hi, mx.toLong); this
      case _ => fallback(policy, this, t)
    }
  }

  private final class RealAcc(policy: MergePolicy, var lo: Double, var hi: Double)
      extends ScalarAcc {
    def kind: Kind = Kind.Real
    def freeze: SchemaType = RealT(lo, hi)
    def absorb(t: SchemaType): TypeAcc = t match {
      case RealT(mn, mx) => lo = math.min(lo, mn); hi = math.max(hi, mx); this
      case _             => fallback(policy, this, t)
    }
  }

  private final class StrAcc(policy: MergePolicy, var lo: Long, var hi: Long)
      extends ScalarAcc {
    def kind: Kind = Kind.Str
    def freeze: SchemaType = StrT(lo, hi)
    def absorb(t: SchemaType): TypeAcc = t match {
      case StrT(mn, mx) => lo = math.min(lo, mn); hi = math.max(hi, mx); this
      case _            => fallback(policy, this, t)
    }
  }

  private final class DateAcc(policy: MergePolicy, var formats: Set[String])
      extends ScalarAcc {
    def kind: Kind = Kind.Date
    def freeze: SchemaType = DateT(formats)
    def absorb(t: SchemaType): TypeAcc = t match {
      case DateT(fs) =>
        if (!fs.subsetOf(formats)) formats = formats union fs
        this
      case _ => fallback(policy, this, t)
    }
  }

  private final class DocAcc(policy: MergePolicy) extends TypeAcc {
    val fields = new java.util.HashMap[String, TypeAcc]
    def kind: Kind = Kind.Document
    def freeze: SchemaType = {
      val b = Map.newBuilder[String, SchemaType]
      fields.forEach((k, v) => b += k -> v.freeze)
      DocT(b.result())
    }
    private def sameKeys(d: DocT): Boolean =
      d.fields.size == fields.size && d.fields.keysIterator.forall(fields.containsKey)
    def congruent(t: SchemaType): Boolean = t match {
      case d: DocT => sameKeys(d)
      case _       => false
    }
    def absorb(t: SchemaType): TypeAcc = t match {
      case d: DocT if lenient(policy) || sameKeys(d) =>
        d.fields.foreach { case (k, v) =>
          val acc = fields.get(k)
          if (acc == null) fields.put(k, of(policy, v)) // a key new to a lenient merge
          else {
            val next = acc.absorb(v)
            if (next ne acc) fields.put(k, next)
          }
        }
        this
      case _ => fallback(policy, this, t)
    }
  }

  /** `elem == null` is the empty-collection sentinel. */
  private final class CollAcc(policy: MergePolicy, var elem: TypeAcc) extends TypeAcc {
    def kind: Kind = Kind.Collection
    def freeze: SchemaType = CollT(Option(elem).map(_.freeze))
    def congruent(t: SchemaType): Boolean = t match {
      case CollT(None)    => elem == null
      case CollT(Some(e)) => elem != null && elem.congruent(e)
      case _              => false
    }
    def absorb(t: SchemaType): TypeAcc = t match {
      case CollT(None) if lenient(policy) || elem == null => this
      case CollT(Some(e)) if lenient(policy) =>
        // simplify unions the element types: a same-kind element merges
        elem =
          if (elem == null) of(policy, e)
          else if (elem.kind == e.kind && e.kind != Kind.Union) elem.absorb(e)
          else new Frozen(policy, policy.turnIntoUnion(Seq(elem.freeze, e)).get)
        this
      case CollT(Some(e)) if elem != null && elem.congruent(e) =>
        elem = elem.absorb(e); this
      case _ => fallback(policy, this, t)
    }
  }
}

/** The reducer's clusters of a fold, as accumulators: each record is
  * absorbed into the one cluster it is mergeable with, or starts a new
  * one. Records are never unions, and on every other type `mergeable` is an
  * equivalence whose merges keep the shape it compares (congruence under
  * [[StrictMerge]], kind under [[SimplifyMerge]]), so at most one cluster
  * matches and the frozen clusters equal `reduceInto`'s.
  */
private[graft] final class Clusters(policy: MergePolicy) {
  private val accs = ArrayBuffer.empty[TypeAcc]

  private def mergeable(acc: TypeAcc, t: SchemaType): Boolean =
    if (policy eq SimplifyMerge) acc.kind == t.kind else acc.congruent(t)

  def absorb(t: SchemaType): Unit = {
    val i = accs.indexWhere(mergeable(_, t))
    if (i < 0) accs += TypeAcc.of(policy, t) else accs(i) = accs(i).absorb(t)
  }

  def frozen: Vector[SchemaType] = accs.iterator.map(_.freeze).toVector
}
