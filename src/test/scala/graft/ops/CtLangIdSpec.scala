package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Cavnar-Trenkle rank-profile language ID pins: profile extraction order
  * (count DESC, n-gram ASC), out-of-place distance with the absent-n-gram
  * penalty, tie-breaks, the und contract, and the Spark column path
  * agreeing with the driver-side classifier.
  */
class CtLangIdSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("profile: top-k trigrams by count desc then lexicographic") {
    val p = CtProfile.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("ababa xx"), 3, 4)
    val got = (0 until p.numElements()).map(_.toInt)
      .map(i => p.getUTF8String(i).toString)
    // trigrams: aba x2, bab x1, "ba ", "a x", " xx" x1 each
    // order: aba(2), then count-1 ties lexicographically: " xx", "a x", "ba "
    assert(got == Seq("aba", " xx", "a x", "ba "), got)
    // shorter than n -> empty profile
    assert(CtProfile.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("ab"), 3, 4)
      .numElements() == 0)
  }

  test("out-of-place distance: exact ranks, absent penalty, lang tie-break, und") {
    val profiles = Seq(
      "aa" -> Seq("abc", "bcd", "cde"), // ranks 0,1,2
      "bb" -> Seq("xyz", "abc"))        // ranks 0,1
    // doc profile [abc, xyz]: vs aa -> |0-0| + k(xyz absent) = 0 + 5
    //                         vs bb -> |0-1| + |1-0|          = 2  -> bb
    assert(CtLangId.classifyString("no", profiles) == "und")
    val rt = new CtRuntime(profiles, 5)
    assert(CtClassify.computeFromStrings(Seq("abc", "xyz"), rt) == "bb")
    // tie: doc [cde] -> aa: |0-2|=2; bb: penalty... 5 -> aa wins outright;
    // doc [bcd] -> aa: |0-1|=1, bb: 5 -> aa. Construct a true tie:
    // doc [abc] -> aa: 0, bb: |0-1|=1 -> aa. doc [xyz,bcd] -> aa: 5+1=6,
    // bb: 0+5=5 -> bb. Equal-distance tie -> lexicographically first lang:
    val tieProfiles = Seq("dd" -> Seq("abc"), "cc" -> Seq("abc"))
    val rt2 = new CtRuntime(tieProfiles, 5)
    assert(CtClassify.computeFromStrings(Seq("abc"), rt2) == "cc")
  }

  test("ngramCounts native == composed ngramArray counting (the training generator)") {
    // the two emoji docs are non-BMP: Spark substr/length count
    // CODEPOINTS, so the native walk must too — a UTF-16 walk would
    // split the surrogate pairs into malformed keys (round-6 review)
    val docs = Seq("ababa xx", "zz", "", "abc",
      "😀😀a", "a😀b😁cd").toDF("text")
    val native = docs.select(explode(CtLangId.ngramCounts(col("text"), 3))
        .as(Seq("g", "c")))
      .groupBy("g").agg(sum("c").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val composed = docs.select(explode(CtLangId.ngramArray(col("text"), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(native == composed, s"$native vs $composed")
    assert(native("aba") == 2L)
  }

  test("trainProfiles + column classify: labels recovered on a separable corpus") {
    val docs = Seq(
      (1L, "aaxx aaxx aaxx aaxx", "A"),
      (2L, "xxaa aaxx aaxx xaax", "A"),
      (3L, "zzyy zzyy zzyy zzyy", "B"),
      (4L, "yyzz zzyy zzyy zyyz", "B"),
      (5L, null.asInstanceOf[String], "A")).toDF("doc_id", "text", "lang")
    val clean = docs.filter(col("text").isNotNull)
    val profiles = CtLangId.trainProfiles(clean, "text", "lang")
    assert(profiles.map(_._1) == Seq("A", "B"))
    val preds = clean.select(col("doc_id"),
        CtLangId.classify(CtLangId.profile(col("text")), profiles).as("pred"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds == Map(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B"))
    // column path == driver path on every doc
    for ((id, text) <- Seq(1L -> "aaxx aaxx aaxx aaxx",
        3L -> "zzyy zzyy zzyy zzyy")) {
      assert(preds(id) == CtLangId.classifyString(text, profiles))
    }
  }
}
