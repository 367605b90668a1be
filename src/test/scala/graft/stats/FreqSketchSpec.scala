package graft.stats

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ops.Vocab

/** The heavy-hitters sketch path for vocabulary profiling must agree with
  * the exact path (q38's shape) where the Misra-Gries guarantee covers it
  * — which it does for every true top word on the graded corpus.
  */
class FreqSketchSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String, Long)] =
    df.select("group", "rank", "word", "n").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))

  test("sketch top-5 == exact top-5 per source on the graded corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val exact = rows(Vocab.topKExact(docs, "source", "text", 5))
    val sketch = rows(Vocab.topKSketch(docs, "source", "text", 5))
    assert(sketch == exact)
  }

  test("under purge pressure the dominant heavy hitters survive with bounded error") {
    // 16000/8000 copies of two dominant words + an 8000-word noise tail in
    // ONE partition, so the one sketch's 4096-slot map is far smaller than
    // the vocabulary. Misra-Gries guarantees
    // IDENTIFYING items above ~N/maxMapSize; their estimates carry a
    // purge offset that depends on merge order — like the HLL/KLL house
    // rule, assert the guaranteed facts (identity, order, error bound),
    // never exact sketch readouts (CLAUDE.md).
    val docs = spark.range(0, 8000, 1, 1)
      .select(lit("g").as("source"),
        concat_ws(" ", lit("alpha alpha beta"),
          concat(lit("noise"), col("id").cast("string"))).as("text"))
    val top = rows(Vocab.topKSketch(docs, "source", "text", 2))
    assert(top.map(_._3) == Seq("alpha", "beta"))
    val totalN = 32000.0 // 4 words x 8000 docs
    val maxErr = (totalN / 4096).toLong + 1 // N/maxMapSize error bound
    val trueCounts = Map("alpha" -> 16000L, "beta" -> 8000L)
    top.foreach { case (_, _, w, est) =>
      assert(math.abs(est - trueCounts(w)) <= maxErr,
        s"$w est $est vs true ${trueCounts(w)}")
    }
  }

  test("sketch merges across partitions deterministically") {
    val docs = spark.range(0, 999)
      .repartition(7)
      .select(lit("g").as("source"),
        when(col("id") % 3 === 0, "x x y").otherwise("y z w").as("text"))
    val a = rows(Vocab.topKSketch(docs, "source", "text", 3))
    val b = rows(Vocab.topKSketch(docs, "source", "text", 3))
    assert(a == b)
    val exact = rows(Vocab.topKExact(docs, "source", "text", 3))
    assert(a == exact)
  }
}
