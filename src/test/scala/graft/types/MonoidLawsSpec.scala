package graft.types

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ingest.JsonSchemaInference

/** Property-based checks of the algebraic laws the reference only proves
  * pointwise (merge_test.clj:480-496 order-independence, 370-372
  * idempotence): the merge monoid must be commutative and idempotent under
  * both policies, or distributed partial aggregation is unsound.
  */
class MonoidLawsSpec extends AnyFunSuite {

  /** Deterministic generator sampling (no scalatest-scalacheck bridge in
    * the offline cache, so drive Gen directly).
    */
  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var i = 0L
    var produced = 0
    while (produced < n) {
      gen.apply(Gen.Parameters.default.withSize((produced % 20) + 1),
        Seed(0xC0FFEEL + i)).foreach { a => f(a); produced += 1 }
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  val genScalar: Gen[SchemaType] = Gen.oneOf(
    Gen.const(NullT),
    Gen.const(BoolT),
    for { a <- Gen.chooseNum(-1000L, 1000L); b <- Gen.chooseNum(-1000L, 1000L) }
      yield IntT(BigInt(a min b), BigInt(a max b)),
    for { a <- Gen.chooseNum(-100.0, 100.0); b <- Gen.chooseNum(-100.0, 100.0) }
      yield RealT(a min b, a max b),
    for { a <- Gen.chooseNum(0L, 50L); b <- Gen.chooseNum(0L, 50L) }
      yield StrT(a min b, a max b),
    Gen.nonEmptyListOf(Gen.oneOf("yyyy-MM-dd", "yyyy.MM.dd", "MM/dd/yyyy"))
      .map(fs => DateT(fs.toSet))
  )

  def genType(depth: Int): Gen[SchemaType] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      5 -> genScalar,
      2 -> Gen.lzy(for {
        n <- Gen.chooseNum(0, 3)
        keys <- Gen.pick(n, Seq("a", "b", "c", "d"))
        vals <- Gen.listOfN(n, genType(depth - 1))
      } yield DocT(keys.zip(vals).toMap)),
      2 -> Gen.lzy(Gen.option(genType(depth - 1)).map(CollT(_)))
    )

  // Arbitrary UnionTs are mostly non-canonical; unions are only ever built
  // by the normalizers, so generate leaf/doc/coll shapes and let merges
  // produce the unions (as in the reference, types.clj:217-230).
  val genT: Gen[SchemaType] = genType(2)

  test("strict merge is commutative") {
    forAll(genT, genT) { (a, b) =>
      assert(StrictMerge.mergeTwo(a, b) == StrictMerge.mergeTwo(b, a))
    }
  }

  test("simplify merge is commutative") {
    forAll(genT, genT) { (a, b) =>
      assert(SimplifyMerge.mergeTwo(a, b) == SimplifyMerge.mergeTwo(b, a))
    }
  }

  test("merge is idempotent") {
    forAll(genT) { a =>
      assert(StrictMerge.mergeTwo(a, a) == a)
      assert(SimplifyMerge.mergeTwo(a, a) == a)
    }
  }

  test("fold is order-independent (associativity + commutativity in effect)") {
    forAll(Gen.nonEmptyListOf(genT)) { ts =>
      assert(StrictMerge.mergeAll(ts) == StrictMerge.mergeAll(ts.reverse))
      assert(SimplifyMerge.mergeAll(ts) == SimplifyMerge.mergeAll(ts.reverse))
    }
  }

  test("merging a value's extract into a fold absorbs (union no-op, merge_test.clj:420-424)") {
    forAll(Gen.nonEmptyListOf(genT)) { ts =>
      val folded = StrictMerge.mergeAll(ts)
      assert(StrictMerge.mergeTwo(folded, ts.head) == folded)
    }
  }

  test("the inference fold (clusters per share, one union normalization) equals the mergeTwo fold") {
    def clustered(p: MergePolicy, ts: Seq[SchemaType]) = JsonSchemaInference.merge(p,
      ts.grouped(3).map(g => JsonSchemaInference.fold(p, g.iterator.map(Right(_)))).toSeq)
    forAll(Gen.nonEmptyListOf(genT)) { ts =>
      Seq(StrictMerge, SimplifyMerge).foreach { p =>
        assert(clustered(p, ts) == JsonSchemaInference.Result(Some(p.mergeAll(ts)), ts.size, 0))
      }
    }
  }
}
