package graft.types

import org.scalatest.funsuite.AnyFunSuite
import Goldens._
import JValue._

/** Extraction + date-sniffing goldens ported from extract_test.clj. */
class ExtractSpec extends AnyFunSuite {
  val pattern1 = "yyyy-MM-dd"
  val pattern2 = "yyyy.MM.dd HH:mm:ss"
  val date1 = "2013-01-01"
  val date2 = "2013.01.01 12:00:00"

  val sniffer = new DateSniffer(Seq(pattern1, pattern2))
  def me(v: JValue): SchemaType =
    twinExtract(new TypeExtractor(StrictMerge, Seq(pattern1, pattern2)), v)
  def se(v: JValue): SchemaType =
    twinExtract(new TypeExtractor(SimplifyMerge, Seq(pattern1, pattern2)), v)

  test("date predicate quirks (extract_test.clj:29-43)") {
    assert(sniffer.isDate("2013-01-01"))
    assert(sniffer.isDate("2013.01.01 12:00:00"))
    assert(!sniffer.isDate("2013.01.01"))
    assert(!sniffer.isDate("2013.01.01 12"))
    assert(!sniffer.isDate("2013/01/01"))
    assert(!sniffer.isDate("asdf2013/01/01"))
    // Java DateFormats happily parse strings that BEGIN with the pattern
    assert(sniffer.isDate("2013-01-01asdf"))
    assert(sniffer.isDate("2013-01-01 12:00:00"))
    // lenient parse quirks (extract_test.clj:155-158)
    val single = new DateSniffer(Seq(pattern1))
    assert(single.isDate("2013-10-10"))
    assert(single.isDate("2-10-10"))
    assert(!single.isDate("2013--10"))
    assert(!single.isDate(""))
  }

  test("date extraction collects matching formats (extract_test.clj:45-106)") {
    assert(me(JStr(date1)) == DateT.of(pattern1))
    assert(me(JStr(date2)) == DateT.of(pattern2))
    assert(me(JStr("2013.01.01")) == StrT.of("2013.01.01"))
    assert(me(JStr("2013-01-01asdf")) == DateT.of(pattern1))
    assert(me(JStr("2013-01-01 12:00:00")) == DateT.of(pattern1))
    assert(me(arr(date1)) == coll(DateT.of(pattern1)))
    assert(me(arr(date1, date2)) == coll(DateT.of(pattern1, pattern2)))
    assert(me(arr(arr(date1), arr(date2), arr(date1, date2))) ==
      coll(coll(DateT.of(pattern1, pattern2))))
    assert(me(arr(arr(1), arr(date1), arr(date2))) ==
      coll(union(coll(IntT(1, 1)), coll(DateT.of(pattern1, pattern2)))))
    assert(me(arr(arr(date1, 3.14), arr(date2, 6.28))) ==
      coll(coll(union(DateT.of(pattern1, pattern2), RealT(3.14, 6.28)))))
    assert(se(arr(arr(date1, 3.14), arr(date2, 5), arr("a", 6.28, 10))) ==
      coll(coll(union(IntT(5, 10), RealT(3.14, 6.28),
        DateT.of(pattern1, pattern2), str(1)))))
    assert(se(arr(arr(1), arr(date1), arr(date2))) ==
      coll(coll(union(IntT(1, 1), DateT.of(pattern1, pattern2)))))
    assert(me(obj("a" -> date1)) == doc("a" -> DateT.of(pattern1)))
    assert(me(arr(obj("a" -> date1), obj("a" -> date2))) ==
      coll(doc("a" -> DateT.of(pattern1, pattern2))))
    assert(se(arr(obj("a" -> date1), obj("a" -> date2, "b" -> date1))) ==
      coll(doc("a" -> DateT.of(pattern1, pattern2), "b" -> DateT.of(pattern1))))
  }

  test("special-scalar extension channel (extract.clj:81-90, types.clj:82-87)") {
    // the reference ships only an always-false stub; register a live
    // recognizer (mongo-style ObjectId strings) and check it is consulted
    // FIRST (before date sniffing would claim the value a plain string)
    val mongoId = new SpecialScalar {
      val name = "mongo-id"
      def matches(x: JValue): Boolean = x match {
        case JStr(s) => s.startsWith("ObjectId(") && s.endsWith(")")
        case _       => false
      }
    }
    val ex = new TypeExtractor(StrictMerge, Seq(pattern1), Seq(mongoId))
    assert(ex.extract(JStr("ObjectId(507f1f77bcf86cd799439011)")) ==
      SpecialT("mongo-id"))
    // non-matching values fall through to the built-in kinds untouched
    assert(ex.extract(JStr(date1)) == DateT.of(pattern1))
    assert(ex.extract(JInt(BigInt(3))) == IntT(3, 3))
    // recursion applies the registry inside docs and arrays
    assert(ex.extract(obj("id" -> "ObjectId(abc)", "n" -> 1)) ==
      doc("id" -> SpecialT("mongo-id"), "n" -> IntT(1, 1)))
    assert(ex.extract(arr("ObjectId(a)", "ObjectId(b)")) ==
      coll(SpecialT("mongo-id")))
    // special kinds are scalar (types.clj scalar-type? openness) and
    // same-named specials merge to themselves; the default registry
    // overload can exclude them
    assert(SchemaType.isScalar(SpecialT("mongo-id")))
    assert(SchemaType.mergeSameKindScalars(
      SpecialT("mongo-id"), SpecialT("mongo-id")) == SpecialT("mongo-id"))
    assertThrows[IllegalArgumentException](
      SchemaType.mergeSameKindScalars(SpecialT("a"), SpecialT("b")))
    assert(!SchemaType.isScalar(Kind.scalars, SpecialT("mongo-id")))
    assert(SchemaType.isScalar(
      Kind.scalars + Kind.Special("mongo-id"), SpecialT("mongo-id")))
  }

  test("scalar extraction basics (extract_test.clj:270-287)") {
    assert(mergeExtract(JNull) == NullT)
    assert(mergeExtract(JInt(5)) == IntT(5, 5))
    assert(mergeExtract(JReal(5.0)) == RealT(5.0, 5.0))
    assert(mergeExtract(JStr("hello")) == str(5))
    assert(mergeExtract(JStr("1989-10-24")) == date)
    assert(mergeExtract(JBool(false)) == BoolT)
    assert(mergeExtract(JBool(true)) == BoolT)
    assert(mergeExtract(arr(1, 2, 3)) == coll(int(1, 3)))
    assert(mergeExtract(arr(arr(), arr())) == coll(CollT.nothing))
    assert(mergeExtract(arr(1, 2, "a")) == coll(union(int(1, 2), str(1))))
    assert(mergeExtract(arr(1, 2, "a", 12, "bb")) ==
      coll(union(StrT(1, 2), int(1, 12))))
    assert(mergeExtract(obj("a" -> 1, "b" -> 2, "c" -> true, "d" -> JNull,
      "e" -> 1.0, "f" -> "string")) ==
      doc("a" -> int(1, 1), "c" -> BoolT, "b" -> int(2, 2), "f" -> str(6),
        "d" -> NullT, "e" -> RealT(1.0, 1.0)))
  }

  test("complex nested document (extract_test.clj:241-287)") {
    val complexDoc = obj(
      "a" -> 5,
      "b" -> arr(1, 2, "a", 12, "b"),
      "c" -> obj("a" -> 5, "b" -> arr(1, 2, "a", 12, "b"),
        "c" -> "2013-01-01", "d" -> arr(1, 2, 3)),
      "d" -> arr(obj("a" -> 5, "b" -> arr(1, 2, "a", 12, "b"),
        "c" -> "2013-01-01", "d" -> arr(1, 2, 3)), 10, "a"))
    val innerDoc = doc(
      "a" -> int(5, 5),
      "b" -> coll(union(str(1), int(1, 12))),
      "c" -> date,
      "d" -> coll(int(1, 3)))
    assert(mergeExtract(complexDoc) == doc(
      "a" -> int(5, 5),
      "b" -> coll(union(str(1), int(1, 12))),
      "c" -> innerDoc,
      "d" -> coll(union(innerDoc, str(1), int(10, 10)))))
  }

  test("merge vs simplify differentials (extract_test.clj:300-337)") {
    assert(mergeExtract(arr(obj("a" -> 1), obj("a" -> 10, "b" -> 2))) ==
      coll(union(
        doc("a" -> int(1, 1)),
        doc("a" -> int(10, 10), "b" -> int(2, 2)))))
    assert(simplifyExtract(arr(obj("a" -> 1), obj("a" -> 10, "b" -> 2))) ==
      coll(doc("b" -> int(2, 2), "a" -> int(1, 10))))

    assert(mergeExtract(arr(arr(), arr(1))) ==
      coll(union(CollT.nothing, coll(int(1, 1)))))
    assert(simplifyExtract(arr(arr(), arr(1))) == coll(coll(int(1, 1))))

    assert(mergeExtract(arr(arr(1), arr("a"), arr(2, "asdf"), arr(24), arr("aa"))) ==
      coll(union(coll(int(1, 24)), coll(StrT(1, 2)),
        coll(union(int(2, 2), str(4))))))
    assert(simplifyExtract(arr(arr(1), arr("a"), arr(2, "asdf"), arr(24), arr("aa"))) ==
      coll(coll(union(StrT(1, 4), int(1, 24)))))

    assert(mergeExtract(arr(arr(1, "a"), arr(2, true))) ==
      coll(union(
        coll(union(BoolT, int(2, 2))),
        coll(union(int(1, 1), str(1))))))
    assert(simplifyExtract(arr(arr(1, "a"), arr(2, true))) ==
      coll(coll(union(BoolT, int(1, 2), str(1)))))

    assert(mergeExtract(arr(arr(1, true, "a"), arr(2, false))) ==
      coll(union(
        coll(union(BoolT, int(2, 2))),
        coll(union(BoolT, int(1, 1), str(1))))))
    assert(simplifyExtract(arr(arr(1, true, "a"), arr(2, false))) ==
      coll(coll(union(BoolT, int(1, 2), str(1)))))

    assert(mergeExtract(arr(arr(1), arr("asdf"))) ==
      coll(union(coll(str(4)), coll(int(1, 1)))))
    assert(simplifyExtract(arr(arr(1), arr("asdf"))) ==
      coll(coll(union(int(1, 1), str(4)))))
  }

  test("merge and simplify agree on coll+scalar and congruent docs (extract_test.clj:340-352)") {
    assert(mergeExtract(arr(arr(1, 2, 3), 4)) ==
      simplifyExtract(arr(arr(1, 2, 3), 4)))
    assert(mergeExtract(arr(arr(1, 2, 3), 4)) ==
      coll(union(int(4, 4), coll(int(1, 3)))))
    assert(mergeExtract(arr(obj("a" -> 1), obj("a" -> "str"))) ==
      simplifyExtract(arr(obj("a" -> 1), obj("a" -> "str"))))
    assert(mergeExtract(arr(obj("a" -> 1), obj("a" -> "str"))) ==
      coll(doc("a" -> union(int(1, 1), str(3)))))
  }
}
