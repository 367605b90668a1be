package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class QualityFilterSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // the rule thresholds: 50..100000 chars, alpha >= 0.6, digits <= 0.2,
  // repeated 3-shingles <= 0.3
  val clean = "a clean sentence about the weather today and the week ahead"

  def reasons(text: String): (Boolean, Set[String]) = {
    val r = QualityFilter.annotate(Seq((1L, text)).toDF("doc_id", "text"),
      "text").select("keep", "reasons").collect()(0)
    (r.getBoolean(0), r.getSeq[String](1).toSet)
  }

  test("each rule fires on its planted violation and only there") {
    assert(reasons(clean) == (true, Set()))
    assert(reasons("tiny") == (false, Set("too_short")))
    // 20001 distinct four-letter words: 100004 chars, no repeated shingle
    val distinctWords = (0 until 20001).map { i =>
      (0 until 4).map(j => ('a' + (i / math.pow(26, j).toInt) % 26).toChar).mkString
    }
    assert(reasons(distinctWords.mkString(" ")) == (false, Set("too_long")))
    assert(reasons("!!! ??? ... ;;; *** ### $$$ %%% &&& ((( ))) +++ === ~~~") ==
      (false, Set("low_alpha")))
    assert(reasons("order 12345 total 99887 code 5544332211 ref 7766554433")
      ._2.contains("digit_heavy"))
    // 20 words, one 3-shingle repeated heavily -> repetition above 0.3
    assert(reasons(Seq.fill(20)("go").mkString(" ")) ==
      (false, Set("repetitive")))
  }

  test("null text fails as null_text alone") {
    val r = QualityFilter.annotate(
        Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        "text").select("keep", "reasons").collect()(0)
    assert(!r.getBoolean(0) && r.getSeq[String](1) == Seq("null_text"))
  }

  test("repetitionRatio: distinct/total shingle math, 0 for short texts") {
    def rr(t: String): Double =
      Seq(Tuple1(t)).toDF("t")
        .select(QualityFilter.repetitionRatio(org.apache.spark.sql.functions.col("t")))
        .collect()(0).getDouble(0)
    assert(rr("one two") == 0.0) // single whole-text shingle
    assert(rr("a b c d") == 0.0) // 2 distinct shingles of 2
    assert(math.abs(rr("x y x y x y x") - (1.0 - 2.0 / 5.0)) < 1e-9)
    // shingles: "x y x","y x y","x y x","y x y","x y x" -> 2 distinct of 5
  }

  test("filter returns exactly the keep side with original columns") {
    val df = Seq((1L, clean), (2L, "tiny")).toDF("doc_id", "text")
    val kept = QualityFilter.filter(df, "text")
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
