package graft.json

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.JsonSchemaInference
import graft.types._
import graft.types.JValue._

/** Parser adversarials ported from the reference's parser_test.clj. Every
  * line also runs through the token walk (`TypeExtractor.extractLine`),
  * which must agree with the tree (ExtractLineSpec.twin).
  */
class ParserSpec extends AnyFunSuite {

  private val extractors = Seq(
    TypeExtractor.merging(), TypeExtractor.simplifying(Seq("yyyy-MM-dd")))

  /** `parseJsonLine(line)`, after checking both paths agree on it. */
  private def parse(line: String): Either[String, JObj] = {
    extractors.foreach(ExtractLineSpec.twin(_, line))
    JsonParser.parseJsonLine(line)
  }

  private val emptyDoc: Either[String, SchemaType] = Right(DocT(Map.empty))

  test("stringified-number coercion (parser_test.clj:22-42)") {
    // 64-bit boundary parses as a number
    assert(JsonParser.numberIfNumber("9223372036854775807")
      .contains(JInt(BigInt("9223372036854775807"))))
    // 32-digit number overflows 64 bits -> stays a string
    assert(JsonParser.numberIfNumber("92233720368547758079223372036854").isEmpty)
    // leading zeros stay strings
    assert(JsonParser.numberIfNumber("00012234").isEmpty)
    // URLs / mixed separators stay strings
    assert(JsonParser.numberIfNumber("http://some.url.com/followed/by/a/path").isEmpty)
    assert(JsonParser.numberIfNumber("1234").contains(JInt(BigInt(1234))))
    assert(JsonParser.numberIfNumber("-12.5").contains(JReal(-12.5)))
    assert(JsonParser.numberIfNumber("0").contains(JInt(BigInt(0))))
    assert(JsonParser.numberIfNumber("0.5").contains(JReal(0.5)))
    assert(JsonParser.numberIfNumber("01.5").isEmpty)
  }

  test("multiply-escaped nested JSON is revived one level at a time (parser_test.clj:6-20)") {
    // analog of test/jsonschema/nested-escaped-json.js: a field whose value
    // is a stringified array of stringified objects, escaped once more
    val line =
      """{"id": 7, "payload": "[\"{\\\"a\\\": 1, \\\"b\\\": \\\"x\\\"}\", \"{\\\"a\\\": 2}\"]"}"""
    val parsed = parse(line)
    assert(parsed.isRight)
    val obj = parsed.toOption.get
    assert(obj.fields("id") == JInt(BigInt(7)))
    obj.fields("payload") match {
      case JArr(items) =>
        assert(items.length == 2)
        assert(items(0) == JValue.obj("a" -> JInt(BigInt(1)), "b" -> JStr("x")))
        assert(items(1) == JValue.obj("a" -> JInt(BigInt(2))))
      case other => fail(s"payload not revived to an array: $other")
    }
  }

  test("embedded unescaped JSON strings are revived") {
    val line = """{"a": "{\"x\": 1}", "b": "[1, 2, 3]", "c": "42", "d": "plain"}"""
    val obj = parse(line).toOption.get
    assert(obj.fields("a") == JValue.obj("x" -> JInt(BigInt(1))))
    assert(obj.fields("b") == JValue.arr(JInt(1), JInt(2), JInt(3)))
    assert(obj.fields("c") == JInt(BigInt(42)))
    assert(obj.fields("d") == JStr("plain"))
  }

  test("malformed line goes to the error channel, not an exception (parser.clj:16-28)") {
    assert(parse("""{"a": """).isLeft)
    assert(parse("""not json at all{""").isLeft)
  }

  test("pinned deviation: strings needing >=2 peels of the SAME string are revived") {
    // actual value content: {\\\"a\\\":1} — escaped two levels beyond
    // valid JSON. unescape-one-level alone never revives this (the
    // literal reference code would leave it a string), but the reference
    // golden nested-escaped-json.js requires exactly this repeated
    // peeling, so the loop is the pinned semantics (JsonParser.scala
    // parseRevived doc).
    val line = """{"deep": "{\\\\\\\"a\\\\\\\":1}"}"""
    val obj = parse(line).toOption.get
    assert(obj.fields("deep") == JValue.obj("a" -> JInt(BigInt(1))))
  }

  test("values that merely look bracketed but fail to parse stay strings") {
    val obj = parse("""{"a": "[not, valid", "b": "[not valid]"}""")
      .toOption.get
    assert(obj.fields("a") == JStr("[not, valid"))
    assert(obj.fields("b") == JStr("[not valid]"))
  }

  test("two-shape heterogeneous corpus extracts without throwing (twitter_test.clj analog)") {
    // synthetic analog of the tweets.js firehose sample: record shape A
    // (message) and shape B (delete marker), with unicode escapes
    val lines = (1 to 46).flatMap { i =>
      Seq(
        s"""{"id": $i, "text": "caf\\u00e9 #$i", "user": {"id": ${i * 7}, "name": "u$i"}}""",
        s"""{"delete": {"status": {"id": $i, "user_id": ${i * 7}}}}"""
      )
    }
    val extractor = TypeExtractor.merging()
    val types = lines.map(l => extractor.extract(parse(l).toOption.get))
    val merged = StrictMerge.mergeAll(types)
    merged match {
      case UnionT(ts) => assert(ts.size == 2) // the two record shapes
      case other      => fail(s"expected a 2-branch union, got $other")
    }
  }

  // Implicit in Jackson's readTree (2.21) until pinned here; the token
  // walk reproduces each.

  test("pinned: a blank line is the empty document, seen and not failed") {
    Seq("", "   ", "\t").foreach { l =>
      assert(parse(l) == Right(JObj(Map.empty)))
      assert(TypeExtractor.merging().extractLine(l) == emptyDoc)
    }
    val extractor = TypeExtractor.merging()
    val b = JsonSchemaInference.merge(StrictMerge, Seq(JsonSchemaInference.fold(StrictMerge,
      Iterator("", """{"a": 1}""", "{").map(extractor.extractLine))))
    assert(b.seen == 3 && b.failed == 1)
    assert(b.schema.contains(UnionT.of(DocT(Map.empty), DocT(Map("a" -> IntT(1, 1))))))
  }

  test("pinned: content after the first JSON value is ignored") {
    Seq("""{"a": 1} xyz""", """{"a": 1}}""", """{"a": 1} {"b": 2}""", """{"a": 1}]""")
      .foreach(l => assert(parse(l) == Right(obj("a" -> 1)), l))
    assert(TypeExtractor.merging().extractLine("""{"a": 1} xyz""") ==
      Right(DocT(Map("a" -> IntT(1, 1)))))
  }

  test("pinned: a duplicate key keeps its last value") {
    assert(parse("""{"a": 1, "a": "x"}""") == Right(obj("a" -> "x")))
    assert(parse("""{"a": {"b": 1, "b": [true]}}""") ==
      Right(obj("a" -> obj("b" -> arr(true)))))
    assert(TypeExtractor.merging().extractLine("""{"a": 1, "b": 2, "a": "xy"}""") ==
      Right(DocT(Map("a" -> StrT(2, 2), "b" -> IntT(2, 2)))))
  }

  test("pinned: a non-object value is the empty document, a malformed one is Left") {
    Seq("[1, 2]", "\"s\"", "3", "null", "true", """[{"a": 1}]""").foreach { l =>
      assert(parse(l) == Right(JObj(Map.empty)), l)
      assert(TypeExtractor.merging().extractLine(l) == emptyDoc, l)
    }
    Seq("[1, 2", "[1, ]", "\"open", "1x", """{"a" 1}""", """[{"a": 1]""").foreach { l =>
      assert(parse(l).isLeft, l)
      assert(TypeExtractor.merging().extractLine(l).isLeft, l)
    }
  }
}
