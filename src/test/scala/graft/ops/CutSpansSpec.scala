package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The native one-walk [[CutSpans]] expression must stay BIT-IDENTICAL to
  * its composed-HOF twin ([[DupSpans.cutSpansComposed]]) — the semantic
  * definition `concat_ws(" ", filter(split(text," "), !exists(spans, in-
  * range)))` — across word counts, span overlaps, out-of-range spans,
  * empty words (consecutive spaces), and empty/missing texts.
  */
class CutSpansSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def compare(docs: Seq[(Long, String)],
                      spans: Seq[(Long, Long, Long)]): Unit = {
    val df = docs.toDF("doc_id", "text")
    val sp = spans.toDF("id", "span_start", "span_words")
    def result(cut: org.apache.spark.sql.DataFrame): Map[Long, String] =
      cut.select("doc_id", "text_cut").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val native = result(DupSpans.cutSpans(df, "text", "doc_id", sp))
    val composed = result(DupSpans.cutSpansComposed(df, "text", "doc_id", sp))
    assert(native == composed)
  }

  test("hand cases: basic cut, overlap merge, out-of-range, whole-doc") {
    val docs = Seq(
      1L -> "a b c d e f g h",
      2L -> "one two three",
      3L -> "solo")
    compare(docs, Seq((1L, 2L, 3L)))                 // drop c d e
    compare(docs, Seq((1L, 0L, 2L), (1L, 1L, 3L)))   // overlapping spans
    compare(docs, Seq((2L, 1L, 50L)))                // span past the end
    compare(docs, Seq((3L, 0L, 1L)))                 // cut everything
    compare(docs, Seq((1L, 7L, 1L), (1L, 0L, 1L)))   // unsorted span list
  }

  test("empty words from consecutive spaces and empty text behave identically") {
    val docs = Seq(
      1L -> "a  b   c",  // empty words at split positions
      2L -> "",
      3L -> " leading and trailing ")
    compare(docs, Seq((1L, 1L, 2L), (2L, 0L, 1L), (3L, 0L, 1L)))
    compare(docs, Seq((1L, 0L, 8L)))
  }

  test("docs without spans pass through untouched (native path not invoked)") {
    val df = Seq(1L -> "keep me exactly  as-is").toDF("doc_id", "text")
    val sp = Seq((99L, 0L, 1L)).toDF("id", "span_start", "span_words")
    val out = DupSpans.cutSpans(df, "text", "doc_id", sp)
      .select("text_cut").collect()(0).getString(0)
    assert(out == "keep me exactly  as-is")
  }

  test("fuzz: native == composed on seeded corpora with random span sets") {
    for (seed <- Seq(11L, 47L)) {
      val rng = new graft.SeededRng(seed)
      val vocab = Vector("aa", "b", "ccc", "dddd", "", "e")
      val docs = (0L until 30L).map { i =>
        i -> Seq.fill(rng.nextInt(12))(vocab(rng.nextInt(vocab.size)))
          .mkString(" ")
      }
      val spans = (0 until 40).map { _ =>
        (rng.nextInt(30).toLong, rng.nextInt(10).toLong,
          (1 + rng.nextInt(6)).toLong)
      }
      compare(docs, spans)
    }
  }

  test("a caller whose idCol is itself named \"id\" does not collide with the spans frame") {
    // round-2 bug: cutSpans joined on byDoc("id") then drop("id") — an
    // input column named "id" made the join condition ambiguous
    val df = Seq(1L -> "a b c d").toDF("id", "text")
    val sp = Seq((1L, 1L, 2L)).toDF("id", "span_start", "span_words")
    val out = DupSpans.cutSpans(df, "text", "id", sp)
    assert(out.columns.toSeq == Seq("id", "text", "text_cut"))
    val row = out.collect()(0)
    assert(row.getAs[Long]("id") == 1L && row.getAs[String]("text_cut") == "a d")
  }

  test("SQL form: null span elements cover nothing; bad span types rejected at analysis") {
    graft.GraftFunctions.register(spark)
    // a null struct element must not NPE — it covers nothing
    val out = spark.sql(
      """SELECT cut_spans('a b c d',
        |  array(named_struct('span_start', 1L, 'span_words', 2L),
        |        CAST(NULL AS STRUCT<span_start: BIGINT, span_words: BIGINT>)))"""
        .stripMargin).collect()(0).getString(0)
    assert(out == "a d")
    // int-typed span fields / non-array spans fail analysis, not eval
    for (bad <- Seq(
        "SELECT cut_spans('a b', array(named_struct('s', 1, 'w', 2)))",
        "SELECT cut_spans('a b', 42)",
        "SELECT cut_spans(7, array(named_struct('s', 1L, 'w', 2L)))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(bad))
      assert(e.getMessage.toLowerCase.contains("cut_spans") ||
        e.getMessage.toLowerCase.contains("data type mismatch"))
    }
  }

  test("SQL form: null span FIELDS are skipped, not read as 0") {
    graft.GraftFunctions.register(spark)
    // nullable BIGINT fields pass analysis; getLong on a null slot would
    // read 0 and cut the wrong interval (round-4 ADVICE) — a span with
    // any null field must cover nothing, like a null span element
    val rows = spark.sql(
      """SELECT
        |  cut_spans('a b c d', array(
        |    named_struct('span_start', CAST(NULL AS BIGINT), 'span_words', 2L))) AS c1,
        |  cut_spans('a b c d', array(
        |    named_struct('span_start', 1L, 'span_words', CAST(NULL AS BIGINT)))) AS c2,
        |  cut_spans('a b c d', array(
        |    named_struct('span_start', CAST(NULL AS BIGINT), 'span_words', 2L),
        |    named_struct('span_start', 2L, 'span_words', 1L))) AS c3"""
        .stripMargin).collect()(0)
    assert(rows.getString(0) == "a b c d") // null start: covers nothing (0-start would cut "a b")
    assert(rows.getString(1) == "a b c d") // null width: covers nothing
    assert(rows.getString(2) == "a b d")   // well-formed sibling still applies
  }

  test("cut composes with keep-first spans end-to-end (kept copy survives)") {
    val phrase = "alpha bravo charlie delta echo foxtrot"
    val docs = Seq(
      1L -> s"one two three $phrase four five six",
      2L -> s"$phrase seven eight nine ten eleven twelve").toDF("doc_id", "text")
    val spans = DupSpans.dupSpansKeepFirst(docs, "text", "doc_id", windowWords = 4).value
    val cut = DupSpans.cutSpans(docs, "text", "doc_id", spans)
      .select("doc_id", "text_cut").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(1L) == s"one two three $phrase four five six")
    assert(cut(2L) == "seven eight nine ten eleven twelve")
  }
}
