package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Bigram-LM scoring pins: exact hand-computed add-one probabilities,
  * OOV accounting, distributed == driver-side training, and the native
  * expression agreeing with the driver-side scorer.
  */
class NgramLmSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("hand-computed add-one bigram likelihood") {
    // ref: "a b a b c" -> N=5, vocab {a,b,c} -> V=4
    // uni: a=2 b=2 c=1; bi: (a,b)=2 (b,a)=1 (b,c)=1
    val m = NgramLm.trainFromDocs(Seq("a b a b c"))
    assert(m.totalTokens == 5L && m.vocabSize == 4L)
    assert(m.unigrams == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    assert(m.bigrams == Map(("a", "b") -> 2L, ("b", "a") -> 1L, ("b", "c") -> 1L))

    // score "a b z": P(a)=(2+1)/(5+4); P(b|a)=(2+1)/(2+4); P(z|b)=(0+1)/(2+4)
    val (nTok, nOov, ll) = NgramLm.scoreString("a b z", m)
    assert(nTok == 3 && nOov == 1)
    val expected = math.log(3.0 / 9) + math.log(3.0 / 6) + math.log(1.0 / 6)
    assert(math.abs(ll - expected) < 1e-12, s"$ll vs $expected")

    // OOV context: P(q)=(0+1)/(5+4); P(c|q)=(0+1)/(0+4)
    val (n2, o2, ll2) = NgramLm.scoreString("q c", m)
    assert(n2 == 2 && o2 == 1)
    assert(math.abs(ll2 - (math.log(1.0 / 9) + math.log(1.0 / 4))) < 1e-12)

    // empty + whitespace-only: zero tokens, zero ll
    assert(NgramLm.scoreString("", m) == ((0, 0, 0.0)))
    assert(NgramLm.scoreString("   ", m) == ((0, 0, 0.0)))
  }

  test("distributed train == driver train; column stats == driver scoring") {
    // edge docs exercise the native WordNgramCounts walk: multi-space
    // runs, leading/trailing spaces (adjacency AFTER the empty-drop),
    // a single word (no bigram), an empty and an all-space doc
    val corpus = Seq("the cat sat", "the cat ran", "a cat sat",
      "  the   cat  sat ", "lone", "", "   ")
    val ref = corpus.toDF("text")
    val local = NgramLm.trainFromDocs(corpus)
    val dist = NgramLm.train(ref, "text")
    assert(dist.unigrams == local.unigrams)
    assert(dist.bigrams == local.bigrams)
    assert(dist.totalTokens == local.totalTokens)
    assert(dist.vocabSize == local.vocabSize)

    val docs = Seq((1L, "the cat sat"), (2L, "zebra quux flux"),
      (3L, "the the the"), (4L, "")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), NgramLm.stats(col("text"), dist).as("s"))
      .select(col("doc_id"), col("s.n_tok"), col("s.n_oov"), col("s.ll"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    for ((id, text) <- Seq(1L -> "the cat sat", 2L -> "zebra quux flux",
        3L -> "the the the", 4L -> "")) {
      assert(got(id) == NgramLm.scoreString(text, dist), s"doc $id")
    }
    // the in-domain doc must out-score the all-OOV one on mean ll
    def nll(t: (Int, Int, Double)) = -t._3 / t._1
    assert(nll(got(1L)) < nll(got(2L)))
  }

  test("maxEntries cap prunes tail counts but keeps N and V exact") {
    val ref = Seq("a a a b c").toDF("text")
    val m = NgramLm.train(ref, "text", maxEntries = 1)
    assert(m.totalTokens == 5L && m.vocabSize == 4L) // full-table aggregates
    assert(m.unigrams == Map("a" -> 3L)) // only the most frequent survives
  }

  test("under the cap a bigram survives only with its context unigram") {
    // unigrams a, b, x, y tie at 10; the cap of 2 keeps a and b (key ASC),
    // while the one bigram (x, y) would survive its own cap
    val ref = (Seq.fill(10)("a") ++ Seq.fill(10)("b") ++ Seq.fill(10)("x y")).toDF("text")
    val m = NgramLm.train(ref, "text", maxEntries = 2)
    assert(m.unigrams == Map("a" -> 10L, "b" -> 10L))
    assert(m.bigrams.keys.forall { case (p, _) => m.unigrams.contains(p) }, m.bigrams)
    // a kept (x, y) under a cut c(x) reads P(y|x) = 11/5: adding a token
    // would RAISE the log-likelihood
    assert(NgramLm.scoreString("x y", m)._3 <= NgramLm.scoreString("x", m)._3)
  }
}
