package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class DecontaminationSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def pairs(train: Seq[(Long, String)], eval: Seq[(Long, String)],
            min: Double = 0.0, maxDf: Int = Int.MaxValue) =
    Decontamination.containmentPairs(
        train.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
        "text", "doc_id", k = 3, minContainment = min, maxShingleDf = maxDf)
      .value.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("containment = shared distinct shingles / eval shingles") {
    val train = Seq(1L -> "a b c d e f", 2L -> "x y z w")
    // e10: both shingles in t1 -> 1.0; e11: one of two -> 0.5;
    // e12: nothing shared -> absent
    val eval = Seq(10L -> "a b c d", 11L -> "a b c q", 12L -> "p q r s")
    val p = pairs(train, eval)
    assert(p((1L, 10L)) == 1.0)
    assert(p((1L, 11L)) == 0.5)
    assert(!p.contains((1L, 12L)) && !p.contains((2L, 12L)))
  }

  test("short texts fall back to the whole-text shingle (ShingleHashes parity)") {
    val p = pairs(Seq(1L -> "hello"), Seq(10L -> "hello", 11L -> "goodbye"))
    assert(p == Map((1L, 10L) -> 1.0))
  }

  test("fuzz: matches driver-side brute force on seeded random corpora") {
    for (seed <- Seq(3L, 17L)) {
      val rng = new graft.SeededRng(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
      def doc(): String =
        Seq.fill(1 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      val train = (0L until 30L).map(i => i -> doc())
      val eval = (100L until 115L).map(i => i -> doc())

      def shingleSet(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length < 3) Set(t)
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      val brute = (for {
        (tid, tt) <- train; (eid, et) <- eval
        c = shingleSet(et).intersect(shingleSet(tt)).size.toDouble / shingleSet(et).size
        if c >= 0.4
      } yield (tid, eid) -> c).toMap

      assert(pairs(train, eval, min = 0.4) == brute, s"seed $seed")
    }
  }

  test("minContainment filters; maxShingleDf drops boilerplate shingles (recall-lowering only)") {
    // "a b c" occurs in 3 train docs -> dropped at maxDf=2, so e10 loses
    // that shingle's contribution (containment can only go DOWN)
    val train = Seq(1L -> "a b c d", 2L -> "a b c e", 3L -> "a b c f")
    val eval = Seq(10L -> "a b c d")
    val exact = pairs(train, eval)
    assert(exact((1L, 10L)) == 1.0 && exact((2L, 10L)) == 0.5)
    val capped = pairs(train, eval, maxDf = 2)
    // shingle "a b c" (df=3) dropped; "b c d" (df=1) survives -> only t1 at 0.5
    assert(capped == Map((1L, 10L) -> 0.5))
    // threshold applies to the computed containment
    assert(pairs(train, eval, min = 0.75) == Map((1L, 10L) -> 1.0))
  }

  test("containmentPairs releases the capped path's shingle cache on close()") {
    val h = Decontamination.containmentPairs(
      Seq(1L -> "a b c d e f", 2L -> "a b c d e f").toDF("doc_id", "text"),
      Seq(10L -> "a b c d").toDF("doc_id", "text"),
      "text", "doc_id", k = 3, minContainment = 0.0, maxShingleDf = 10)
    assert(h.value.count() >= 1)
    assert(h.handles.nonEmpty)
    h.close()
    h.handles.foreach(f => assert(
      f.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
    // the uncapped path pins nothing
    val h2 = Decontamination.containmentPairs(
      Seq(1L -> "a b c d e f").toDF("doc_id", "text"),
      Seq(10L -> "a b c d").toDF("doc_id", "text"), "text", "doc_id")
    assert(h2.handles.isEmpty)
  }
}
