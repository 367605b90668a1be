package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class DupSpansSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def spans(rows: (Long, String)*): Set[(Long, Long, Long)] =
    DupSpans.dupSpans(rows.toDF("doc_id", "text"), "text", "doc_id",
        windowWords = 4)
      .value.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  // 8 unique filler words + a 6-word phrase shared verbatim
  val phrase = "alpha bravo charlie delta echo foxtrot"

  test("a shared phrase surfaces as one maximal span per doc, full phrase length") {
    val s = spans(
      1L -> s"one two three $phrase four five six",
      2L -> s"$phrase seven eight nine ten eleven twelve")
    // phrase = 6 words -> 3 consecutive 4-windows -> span_words = 3+3 = 6
    assert(s == Set((1L, 3L, 6L), (2L, 0L, 6L)))
  }

  test("unique text yields no spans; within-doc repetition is also a duplicate") {
    assert(spans(1L -> "every word here is used exactly once only").isEmpty)
    val s = spans(3L -> s"$phrase middle words between $phrase")
    // both phrase copies duplicated (positions 0..2 and 9..11 as 4-windows)
    assert(s.map(t => (t._2, t._3)) == Set((0L, 6L), (9L, 6L)))
  }

  test("duplicated docs shorter than the window span the DOC's length, not the window's") {
    // ShingleHashes fallback: < 4 words -> one whole-text hash at pos 0;
    // the span must report the 2-word doc, not a phantom 4-word region
    val s = spans(1L -> "hello world", 2L -> "hello world")
    assert(s == Set((1L, 0L, 2L), (2L, 0L, 2L)))
  }

  test("keep-first: the globally-first occurrence survives, later copies are cut") {
    val docs = Seq(
      1L -> s"one two three $phrase four five six",   // first occurrence (min id)
      2L -> s"$phrase seven eight nine ten eleven twelve"
    ).toDF("doc_id", "text")
    val toCut = DupSpans.dupSpansKeepFirst(docs, "text", "doc_id", windowWords = 4)
      .value.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(toCut == Set((2L, 0L, 6L))) // only doc 2's copy is flagged

    val cut = DupSpans.cutSpans(docs, "text", "doc_id",
        DupSpans.dupSpansKeepFirst(docs, "text", "doc_id", windowWords = 4).value)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_cut"))
      .toMap
    assert(cut(1L) == s"one two three $phrase four five six") // untouched
    assert(cut(2L) == "seven eight nine ten eleven twelve")   // phrase removed
  }

  test("fuzz: matches driver-side brute force on seeded small-vocab corpora") {
    for (seed <- Seq(5L, 23L)) {
      val rng = new graft.SeededRng(seed)
      val vocab = Vector("a", "b", "c", "d") // tiny vocab forces real repeats
      val docs = (0L until 25L).map { i =>
        i -> Seq.fill(2 + rng.nextInt(14))(vocab(rng.nextInt(vocab.size)))
          .mkString(" ")
      }

      def windowsOf(t: String): Seq[(Int, String)] = {
        val w = t.split(" ")
        if (w.length < 4) Seq(0 -> t)
        else w.sliding(4).zipWithIndex.map { case (s, i) => i -> s.mkString(" ") }.toSeq
      }
      val counts = docs.flatMap(d => windowsOf(d._2).map(_._2))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val brute = docs.flatMap { case (id, t) =>
        val flagged = windowsOf(t).collect {
          case (pos, s) if counts(s) > 1 => pos
        }.sorted
        // islands of consecutive positions -> (start, clamped length)
        val nWords = t.split(" ").length
        flagged.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.map { case (s, e) =>
          (id, s.toLong, math.min(e - s + 1 + 3, nWords).toLong)
        }
      }.toSet

      val got = DupSpans.dupSpans(docs.toDF("doc_id", "text"),
          "text", "doc_id", windowWords = 4)
        .value.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == brute, s"seed $seed")
    }
  }

  test("maxWindowDf: boilerplate windows are flagged at EVERY copy, first included") {
    // the same 4-word phrase in 5 docs; df = 5 occurrences of each window
    val docs = (1L to 5L).map(i => i -> s"license header boiler plate unique$i")
      .toDF("doc_id", "text")
    // unbounded: strict keep-first — doc 1's copy is exempt
    val strict = DupSpans.dupSpansKeepFirst(docs, "text", "doc_id", windowWords = 4)
      .value.select("id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(2L, 3L, 4L, 5L))
    // capped below the df: flag-whole-island — doc 1's copy is cut too
    val capped = DupSpans.dupSpansKeepFirst(docs, "text", "doc_id",
        windowWords = 4, maxWindowDf = 4L)
      .value.select("id").collect().map(_.getLong(0)).toSet
    assert(capped == Set(1L, 2L, 3L, 4L, 5L))
    // a cap ABOVE the df changes nothing
    val loose = DupSpans.dupSpansKeepFirst(docs, "text", "doc_id",
        windowWords = 4, maxWindowDf = 100L)
      .value.select("id").collect().map(_.getLong(0)).toSet
    assert(loose == strict)
  }

  test("planted 1e5-occurrence hot window completes without a straggler partition") {
    // 100k docs share one 8-word boilerplate prefix: the round-2
    // Window.partitionBy(h) shape pinned all 1e5 occurrences of each
    // prefix window into ONE partition (and sorted them for keep-first);
    // the groupBy+join-back shape partial-aggregates them map-side
    val boiler = "this website uses cookies to improve your experience"
    val docs = spark.range(0, 100000)
      .select(col("id").as("doc_id"),
        concat(lit(boiler), lit(" tail"), col("id").cast("string")).as("text"))
    val h = DupSpans.dupSpansKeepFirst(docs, "text", "doc_id",
      windowWords = 8, maxWindowDf = 1000L)
    // every doc's boilerplate prefix is flagged (df 1e5 > cap -> no exemption)
    assert(h.value.count() == 100000L)
    h.close()
  }

  test("end-to-end cut: later whole-doc duplicates empty out but keep their row") {
    // q50's contract: a doc that loses EVERY word (a later copy of a
    // whole-doc duplicate) must come back as "", not vanish from the
    // corpus — downstream joins key on id and must still see the row
    val long = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(1L -> long, 2L -> long, 3L -> "all fresh words here",
        4L -> null.asInstanceOf[String])
      .toDF("doc_id", "text")
    val cut = DupSpans.cutSpans(docs, "text", "doc_id",
        DupSpans.dupSpansKeepFirst(docs, "text", "doc_id", windowWords = 4).value)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_cut"))
      .toMap
    // NULL text passes through as NULL — no windows to mine, nothing to
    // cut; '' would misreport "everything was duplicated" (q50 contract)
    assert(cut == Map(1L -> long, 2L -> "", 3L -> "all fresh words here",
      4L -> null))
  }

  test("boilerplate inventory: df/n_docs split, text reconstruction, fallback windows") {
    val docs = Seq(
      1L -> "b1 b2 b3 b4 m1 b1 b2 b3 b4",        // phrase twice in ONE doc
      2L -> "u1 u2 b1 b2 b3 b4 u3 u4",           // once
      3L -> "v1 b1 b2 b3 b4 v2 v3 v4 v5",        // once -> df 4 over 3 docs
      4L -> "p1 p2 p3 p4 w1 w2",                  // pair phrase...
      5L -> "z1 p1 p2 p3 p4 z2",                  // ...df 2: below minDf 3
      7L -> "hi yo", 8L -> "hi yo", 9L -> "hi yo" // short-doc fallback, df 3
    ).toDF("doc_id", "text")
    val got = DupSpans.boilerplate(docs, "text", "doc_id",
        windowWords = 4, minDf = 3L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // df counts OCCURRENCES (4: two in doc 1 + docs 2, 3) while n_docs
    // counts documents (3) — the within-doc-loop vs cross-doc signal;
    // the fallback window reconstructs as the whole short text
    assert(got == Set(("b1 b2 b3 b4", 4L, 3L), ("hi yo", 3L, 3L)))
  }

  test("adjacent duplicated runs merge into one maximal island") {
    // two docs sharing a 10-word block -> one span of 10, not several
    val block = "p q r s t u v w x y"
    val s = spans(1L -> s"$block zz1 zz2", 2L -> s"zz3 zz4 $block")
    assert(s == Set((1L, 0L, 10L), (2L, 2L, 10L)))
  }
}
