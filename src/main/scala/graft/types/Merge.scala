package graft.types

import scala.annotation.tailrec

/** Congruence: "will merging these two produce the same type-kind back
  * (possibly with widened stats), or a Union?"
  * (reference merge_common.clj:49-98).
  */
object Congruence {
  def congruent(t1: SchemaType, t2: SchemaType): Boolean = (t1, t2) match {
    // If either side is a union the dispatch is :union, and then both must
    // be unions with bidirectional congruence coverage
    // (merge_common.clj:36-47, 78-90).
    case (u1: UnionT, u2: UnionT) =>
      u1.types.forall(a => u2.types.exists(b => congruent(a, b))) &&
        u2.types.forall(b => u1.types.exists(a => congruent(a, b)))
    case (_: UnionT, _) | (_, _: UnionT) => false
    case (d1: DocT, d2: DocT)            => d1.properties == d2.properties
    case (c1: CollT, c2: CollT) =>
      (c1.elem, c2.elem) match {
        case (None, None)       => true
        case (None, _) | (_, None) => false
        case (Some(a), Some(b)) => congruent(a, b)
      }
    case (a, b) if SchemaType.isScalar(a) && SchemaType.isScalar(b) =>
      a.kind == b.kind
    case _ => false
  }

  def incongruent(t1: SchemaType, t2: SchemaType): Boolean = !congruent(t1, t2)
}

/** A merge policy: the type*type=>merge-fn dispatch table plus its
  * compatibility-grouped reducer (reference merge.clj:104-138,
  * simplify.clj:74-100). Strict = catalog of distinct shapes;
  * Simplify = single unifying shape.
  */
sealed trait MergePolicy extends Serializable {
  /** The pairwise, commutative-in-effect monoid combine. */
  def mergeTwo(t1: SchemaType, t2: SchemaType): SchemaType

  /** Group arbitrary types into equivalence clusters under `mergeable` and
    * merge within each cluster. Compatibility is NOT assumed transitive, so
    * this is O(n^2) in the number of DISTINCT shapes (never row counts) —
    * reference merge_common.clj:102-130.
    */
  protected def mergeable(a: SchemaType, b: SchemaType): Boolean

  final def reducer(types: Seq[SchemaType]): Seq[SchemaType] =
    types.foldLeft(Vector.empty[SchemaType])(reduceInto)

  /** One step of [[reducer]]: fold `t` into the clusters reduced so far.
    * Lets a streaming caller reduce elements as they arrive.
    */
  final def reduceInto(merged: Vector[SchemaType], t: SchemaType): Vector[SchemaType] = {
    val (compatibles, incompatibles) = merged.partition(m => mergeable(t, m))
    incompatibles :+ compatibles.foldLeft(t)(mergeTwo)
  }

  final def mergeAll(types: Iterable[SchemaType]): SchemaType =
    types.reduce(mergeTwo)

  /** Union normalization: flatten nested unions to fixpoint, reduce
    * compatible members, unwrap singletons (merge_common.clj:137-160).
    */
  @tailrec
  final def turnIntoUnion(types: Seq[SchemaType]): Option[SchemaType] =
    if (types.exists(_.isInstanceOf[UnionT])) {
      val (unions, nonUnions) = types.partition(_.isInstanceOf[UnionT])
      // the reference takes a set-union here, deduping equal members
      val flattened =
        (nonUnions ++ unions.flatMap(_.asInstanceOf[UnionT].types)).distinct
      turnIntoUnion(flattened)
    } else if (types.isEmpty) None
    else {
      val unique = reducer(types)
      if (unique.size == 1) Some(unique.head) else Some(UnionT(unique.toSet))
    }

  /** Collection normalization (merge_common.clj:162-174): empty -> nothing
    * sentinel, singleton -> that type, else a Union of the reduced set.
    */
  final def turnIntoCollection(types: Seq[SchemaType]): CollT =
    reducedCollection(reducer(types))

  /** [[turnIntoCollection]] of element types already run through [[reducer]]. */
  final def reducedCollection(unique: Seq[SchemaType]): CollT =
    if (unique.isEmpty) CollT.nothing
    else if (unique.size == 1) CollT.of(unique.head)
    else CollT.of(UnionT(unique.toSet))

  /** Per-key full-outer merge of two documents' field maps
    * (reference `merge-with`, merge.clj:52-55 / simplify.clj:36-37).
    */
  protected final def mergeFieldMaps(
      m1: Map[String, SchemaType],
      m2: Map[String, SchemaType]): Map[String, SchemaType] =
    m2.foldLeft(m1) { case (acc, (k, v2)) =>
      acc.updatedWith(k) {
        case Some(v1) => Some(mergeTwo(v1, v2))
        case None     => Some(v2)
      }
    }
}

/** Strict merge (reference merge.clj): documents merge only on equal
  * keysets, collections only on congruent element types, anything
  * incongruent becomes a union branch. Produces the "catalog of distinct
  * observed shapes".
  */
object StrictMerge extends MergePolicy {
  protected def mergeable(a: SchemaType, b: SchemaType): Boolean =
    Congruence.congruent(a, b)

  def mergeTwo(t1: SchemaType, t2: SchemaType): SchemaType = (t1, t2) match {
    // any union cell -> union normalization with the strict reducer
    // (merge.clj:39-41, 60-62, 83-85, 98-100)
    case (_: UnionT, _) | (_, _: UnionT) =>
      turnIntoUnion(Seq(t1, t2)).get

    case (d1: DocT, d2: DocT) => // merge.clj:52-55
      if (d1.properties == d2.properties) DocT(mergeFieldMaps(d1.fields, d2.fields))
      else UnionT(Set(d1, d2))

    case (c1: CollT, c2: CollT) => // merge.clj:72-81
      (c1.elem, c2.elem) match {
        case (None, None) => c1
        case (None, _) | (_, None) => UnionT(Set[SchemaType](c1, c2))
        case (Some(e1), Some(e2)) =>
          if (Congruence.congruent(e1, e2)) CollT.of(mergeTwo(e1, e2))
          else UnionT(Set[SchemaType](c1, c2))
      }

    case (a, b) if SchemaType.isScalar(a) && SchemaType.isScalar(b) =>
      if (a.kind == b.kind) SchemaType.mergeSameKindScalars(a, b)
      else UnionT(Set(a, b)) // merge.clj:28-31

    // scalar-document, scalar-collection, document-collection (merge.clj:33-37, 57-58)
    case (a, b) => UnionT(Set(a, b))
  }
}

/** Lenient merge (reference simplify.clj): ANY two documents merge per-key
  * (keyset union, absent keys absorb), ANY two collections merge element
  * types (empties absorb). Produces the single unifying schema.
  */
object SimplifyMerge extends MergePolicy {
  // simplify-reducer groups by type SIGIL, not congruence (simplify.clj:99-100)
  protected def mergeable(a: SchemaType, b: SchemaType): Boolean =
    a.kind == b.kind

  def mergeTwo(t1: SchemaType, t2: SchemaType): SchemaType = (t1, t2) match {
    case (_: UnionT, _) | (_, _: UnionT) =>
      turnIntoUnion(Seq(t1, t2)).get

    case (d1: DocT, d2: DocT) => // simplify.clj:36-37 — always merges
      DocT(mergeFieldMaps(d1.fields, d2.fields))

    case (c1: CollT, c2: CollT) => // simplify.clj:44-54 — empties absorb
      (c1.elem, c2.elem) match {
        case (None, None)       => c1
        case (None, Some(_))    => c2
        case (Some(_), None)    => c1
        case (Some(e1), Some(e2)) =>
          CollT.of(turnIntoUnion(Seq(e1, e2)).get)
      }

    case (a, b) if SchemaType.isScalar(a) && SchemaType.isScalar(b) =>
      // scalar-scalar cell is NOT overridden by simplify (simplify.clj:74-85)
      if (a.kind == b.kind) SchemaType.mergeSameKindScalars(a, b)
      else UnionT(Set(a, b))

    case (a, b) => UnionT(Set(a, b))
  }
}
