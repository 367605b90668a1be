package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class DecontaminationSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def pairs(train: Seq[(Long, String)], eval: Seq[(Long, String)],
            min: Double = 0.0) =
    Decontamination.containmentPairs(
        train.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
        "text", "doc_id", k = 3, minContainment = min)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

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

  test("minContainment filters the computed containment; shared boilerplate still counts") {
    // "a b c" occurs in 3 train docs and counts for each of them
    val train = Seq(1L -> "a b c d", 2L -> "a b c e", 3L -> "a b c f")
    val eval = Seq(10L -> "a b c d")
    val exact = pairs(train, eval)
    assert(exact == Map((1L, 10L) -> 1.0, (2L, 10L) -> 0.5, (3L, 10L) -> 0.5))
    assert(pairs(train, eval, min = 0.75) == Map((1L, 10L) -> 1.0))
  }
}
