package graft.types

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite

import graft.json.JsonParser

/** Differential spec of the token walk against its reference twin:
  * `extractLine(l)` must equal `parseJsonLine(l).map(extract)` — the
  * same Left message or the same SchemaType — under both policies, with
  * and without date formats, and with a registered special. The golden
  * suites (Goldens, ExtractSpec, ParserSpec) run their inputs through
  * [[ExtractLineSpec.twin]] as well.
  */
class ExtractLineSpec extends AnyFunSuite {
  import ExtractLineSpec._

  private val dateFormats = Seq("yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss")
  private val linesPerConfig = 2500

  private def generated(n: Int): Seq[String] = {
    val out = Vector.newBuilder[String]
    var produced = 0
    var i = 0L
    while (produced < n) {
      genLine(Gen.Parameters.default.withSize(produced % 10 + 1), Seed(0x5EEDL + i))
        .foreach { l => out += l; produced += 1 }
      i += 1
    }
    out.result()
  }

  private lazy val corpus = generated(linesPerConfig)

  test("the generated corpus covers the edge cases it is meant to") {
    val viaTree = corpus.map(JsonParser.parseJsonLine)
    assert(viaTree.count(_.isLeft) > 100, "malformed lines")
    assert(viaTree.count(_ == Right(JObj(Map.empty))) > 100, "blank and non-object lines")
    assert(corpus.exists(_.contains("9223372036854775808")), "2^63 literal")
    assert(corpus.exists(l => "\\[[^\\]]*-9223372036854775809".r.findFirstIn(l).isDefined),
      "beyond -2^63 inside an array")
    assert(corpus.exists(_.contains("1e400")), "Infinity literal")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val revived = corpus.zip(viaTree).count {
      case (l, Right(obj)) => JsonParser.fromJackson(mapper.readTree(l)) != obj
      case _ => false
    }
    assert(revived > 100, "lines with a revived top-level string")
  }

  for {
    (policyName, policy) <- Seq("StrictMerge" -> StrictMerge, "SimplifyMerge" -> SimplifyMerge)
    (fmtName, fmts) <- Seq("no date formats" -> Nil, "date formats" -> dateFormats)
  } test(s"extractLine == parseJsonLine + extract: $policyName, $fmtName") {
    val ex = new TypeExtractor(policy, fmts)
    corpus.foreach(twin(ex, _))
  }

  test("extractLine == parseJsonLine + extract with a registered special") {
    val upper = new SpecialScalar {
      val name = "upper"
      def matches(x: JValue): Boolean = x match {
        case JStr(s) => s.nonEmpty && s.forall(_.isUpper)
        case _       => false
      }
    }
    val ex = new TypeExtractor(StrictMerge, dateFormats, Seq(upper))
    corpus.foreach(twin(ex, _))
  }

  test("integers at and beyond 64 bits fold into one IntT inside an array") {
    val ex = new TypeExtractor(StrictMerge)
    assert(twin(ex, """{"a": [1, 9223372036854775807, -9223372036854775808]}""") ==
      Right(DocT(Map("a" -> CollT.of(IntT(Long.MinValue, Long.MaxValue))))))
    assert(twin(ex, """{"a": [5, 9223372036854775808, -9223372036854775809, "x"]}""") ==
      Right(DocT(Map("a" -> CollT.of(UnionT(Set(
        IntT(BigInt("-9223372036854775809"), BigInt("9223372036854775808")),
        StrT(1, 1))))))))
  }
}

object ExtractLineSpec {

  /** `ex.extractLine(line)`, asserted equal to its reference twin: the
    * same Left message, or the same SchemaType.
    */
  def twin(ex: TypeExtractor, line: String): Either[String, SchemaType] = {
    val direct = ex.extractLine(line)
    val viaTree = JsonParser.parseJsonLine(line).map(ex.extract)
    Assertions.assert(direct == viaTree,
      s"paths differ on: $line\n  direct: $direct\n  tree:   $viaTree")
    // Double equality cannot tell -0.0 from 0.0; the rendering can
    Assertions.assert(direct.map(SchemaType.render) == viaTree.map(SchemaType.render),
      s"renderings differ on: $line")
    direct
  }

  /** A JSON string literal with `s` as its content. */
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case '\n'         => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c            => b += c
    }
    (b += '"').result()
  }

  private val intLit: Gen[String] = Gen.frequency(
    4 -> Gen.chooseNum(-1000L, 1000L).map(_.toString),
    1 -> Gen.oneOf("9223372036854775807", "-9223372036854775808",
      "9223372036854775808", "-9223372036854775809",
      "123456789012345678901234567890", "0", "-0"))

  private val floatLit: Gen[String] = Gen.frequency(
    1 -> Gen.chooseNum(-1e6, 1e6).map(_.toString),
    1 -> Gen.oneOf("1e400", "-1e400", "-0.0", "0.0", "2.5e-3", "1E10", "4.9e-330"))

  private val dateish = Gen.oneOf("2013-01-01", "2013-01-01 12:00:00",
    "2013-01-01asdf", "2-10-10", "2013/01/01", "2013--10", "2013.01.01", "")
  private val numberish = Gen.oneOf("42", "-3.5", "007", "0", "0.5", "01.5",
    "92233720368547758079", "9223372036854775807", "1e5", "-")
  private val plain = Gen.oneOf(Gen.alphaStr.map(_.take(8)),
    Gen.oneOf("café", "line\nbreak", "quote\"inside", "back\\slash",
      "ABC", "[not, valid", "[not valid]", "{x}", "[]", "{}"))

  /** String content: plain, date-like, number-like, or embedded JSON,
    * raw or with its quotes backslash-escaped one level more.
    */
  private def stringContent(depth: Int): Gen[String] = Gen.frequency(
    4 -> plain, 3 -> dateish, 2 -> numberish,
    2 -> Gen.lzy(container(depth)),
    1 -> Gen.lzy(container(depth)).map(j => quote(j).drop(1).dropRight(1)))

  private def scalar(depth: Int): Gen[String] = Gen.frequency(
    3 -> intLit, 2 -> floatLit, 4 -> stringContent(depth - 1).map(quote),
    1 -> Gen.oneOf("true", "false", "null"))

  private def array(depth: Int): Gen[String] = for {
    n <- Gen.chooseNum(0, 6)
    items <- Gen.listOfN(n, Gen.frequency(3 -> intLit, 1 -> floatLit, 2 -> value(depth - 1)))
  } yield items.mkString("[", ", ", "]")

  // keys drawn with replacement: duplicate keys are part of the corpus
  private def obj(depth: Int): Gen[String] = for {
    n <- Gen.chooseNum(0, 4)
    keys <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    vals <- Gen.listOfN(n, value(depth - 1))
  } yield keys.zip(vals).map { case (k, v) => s"${quote(k)}: $v" }.mkString("{", ", ", "}")

  private def container(depth: Int): Gen[String] =
    if (depth <= 0) Gen.const("[]") else Gen.oneOf(array(depth), obj(depth))

  private def value(depth: Int): Gen[String] =
    if (depth <= 0) scalar(0)
    else Gen.frequency(5 -> scalar(depth), 2 -> Gen.lzy(array(depth)), 2 -> Gen.lzy(obj(depth)))

  /** A JSONL line: mostly objects, plus non-object values, blank lines,
    * truncated lines and lines with content after the first value.
    */
  val genLine: Gen[String] = Gen.frequency(
    12 -> obj(3),
    2 -> value(2),
    1 -> Gen.oneOf("", "   ", "\t"),
    2 -> (for {
      s <- Gen.frequency(3 -> obj(3), 1 -> value(2))
      cut <- Gen.chooseNum(0, math.max(0, s.length - 1))
    } yield s.take(cut)),
    2 -> (for {
      s <- Gen.oneOf(obj(3), value(1))
      tail <- Gen.oneOf(" xyz", "}", " {\"b\": 2}", "]", " 1", ",", "xyz")
    } yield s + tail))
}
