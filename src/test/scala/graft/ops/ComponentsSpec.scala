package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Connected components vs a driver-side union-find truth: random graphs
  * (seeded, MonoidLawsSpec-style manual generation), long chains (the
  * diameter case large-star/small-star exists for), and degenerate inputs.
  */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def sparkCC(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("random graphs match union-find (3 seeds x 200 edges over 120 nodes)") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val rng = new graft.SeededRng(seed)
      val pairs = Seq.fill(200)((rng.nextLong(120), rng.nextLong(120)))
        .filter(p => p._1 != p._2)
      assert(sparkCC(pairs) == unionFind(pairs), s"seed $seed")
    }
  }

  test("a 64-node chain converges (diameter >> rounds) to one component") {
    val chain = (0L until 63L).map(i => (i, i + 1))
    val cc = sparkCC(chain)
    assert(cc.size == 64 && cc.values.forall(_ == 0L))
  }

  test("disjoint planted clusters keep distinct min-id components") {
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 30L))
    val cc = sparkCC(pairs)
    assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("empty input yields an empty assignment") {
    assert(sparkCC(Nil).isEmpty)
  }

  test("contraction parity: random graphs across partition counts") {
    // the round-7 local union-find contraction must not change results
    // under ANY input partitioning (stars differ per layout; the final
    // assignment may not)
    val rng = new graft.SeededRng(99L)
    val pairs = Seq.fill(300)((rng.nextLong(80), rng.nextLong(80)))
      .filter(p => p._1 != p._2)
    val truth = unionFind(pairs)
    for (parts <- Seq(1, 3, 8)) {
      val df = pairs.toDF("a", "b").repartition(parts)
      val cc = Components.connectedComponents(df, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc == truth, s"parts=$parts")
    }
  }

  test("contraction gate and cap: skip path and pass-through tail both converge to the truth") {
    val rng = new graft.SeededRng(7L)
    val pairs = Seq.fill(200)((rng.nextLong(60), rng.nextLong(60)))
      .filter(p => p._1 != p._2)
    val truth = unionFind(pairs)
    // gate NOT met (edge count > contractMaxNodes): contraction skipped,
    // pure star rounds must still reach the truth
    val cc = Components.connectedComponents(
        pairs.toDF("a", "b").repartition(2), "a", "b",
        contractMaxNodes = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == truth)
    // gate met but the union-find NODE cap trips mid-pass (a chain has
    // edges+1 nodes): the pass-through tail + star rounds must absorb it
    val chain = (0L until 100L).map(i => (i, i + 1))
    val ccChain = Components.connectedComponents(
        chain.toDF("a", "b"), "a", "b", contractMaxNodes = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccChain == unionFind(chain))
  }

  test("extreme ids (MinValue sentinel neighborhood) survive contraction") {
    val pairs = Seq((Long.MinValue, 5L), (5L, Long.MaxValue), (7L, 8L))
    val cc = sparkCC(pairs)
    assert(cc == Map(Long.MinValue -> Long.MinValue, 5L -> Long.MinValue,
      Long.MaxValue -> Long.MinValue, 7L -> 7L, 8L -> 7L))
  }

  test("dupClusters summarizes one row per component") {
    val rows = Components.dupClusters(
        Seq((5L, 3L), (3L, 9L), (100L, 101L)).toDF("a", "b"), "a", "b")
      .orderBy("component").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((3L, 3L, 3L, 9L), (100L, 2L, 100L, 101L)))
  }
}
