package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog near the river bank"
  val other = "completely different words about mountains and snow and wind"

  def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("incremental mining: new-vs-old and new-vs-new found, old-vs-old never re-emitted") {
    val dir = SharedSpark.tempDir("incdedup") + "/idx"
    // initial corpus: docs 1 and 2 are near-dups of each other
    val corpus = docs(1L -> s"$base one", 2L -> s"$base two", 3L -> other)
    IncrementalDedup.writeIndex(corpus, "text", "doc_id", dir)

    // batch: 10 near-dups 1/2, 11 near-dups 12 (within batch), 13 is novel
    val batch = docs(
      10L -> s"$base ten",
      11L -> s"$other alpha",
      12L -> s"$other beta",
      13L -> "utterly unrelated content in every single shingle position here")
    val cands = IncrementalDedup.newDocCandidates(spark, batch,
        "text", "doc_id", dir)
      .value.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(cands.contains((1L, 10L)) && cands.contains((2L, 10L))) // new x old
    assert(cands.contains((11L, 12L)))                             // new x new
    assert(cands.contains((3L, 11L)) && cands.contains((3L, 12L))) // new x old
    assert(!cands.contains((1L, 2L)), "old x old must not be re-mined")
    assert(!cands.exists(p => p._1 == 13L || p._2 == 13L))

    // grow the index by a rebuild over corpus + batch; a later batch sees both
    IncrementalDedup.writeIndex(corpus.unionByName(batch), "text", "doc_id", dir)
    val cands2 = IncrementalDedup.newDocCandidates(spark,
        docs(20L -> s"$base twenty"), "text", "doc_id", dir)
      .value.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands2 == Set((1L, 20L), (2L, 20L), (10L, 20L)))
  }

  test("bucket cap measures the COMBINED (index + batch) bucket size") {
    val dir = SharedSpark.tempDir("incdedup3") + "/idx"
    // 5 indexed + 2 new docs with IDENTICAL text: every bucket has 7 rows
    val old = docs((1L to 5L).map(i => i -> s"$base same"): _*)
    val batch = docs(10L -> s"$base same", 11L -> s"$base same")
    IncrementalDedup.writeIndex(old, "text", "doc_id", dir)
    def mine(cap: Int) = IncrementalDedup.newDocCandidates(spark, batch,
        "text", "doc_id", dir, maxBucket = cap).value.count()
    assert(mine(4) == 0L, "7-row buckets must be dropped at cap 4, like full mining")
    assert(mine(10) == 11L) // 2 new x 5 old + 1 new-new pair
    spark.catalog.clearCache()
  }

  test("count sidecar matches derived counts; sidecar-less probe falls back identically") {
    val dir = SharedSpark.tempDir("incdedup4") + "/idx"
    val old = docs(1L -> s"$base one", 2L -> s"$base two", 3L -> other)
    IncrementalDedup.writeIndex(old, "text", "doc_id", dir)
    // a rebuild over the grown corpus must leave the sidecar covering EVERY
    // row (recount + static overwrite), never just the first corpus
    IncrementalDedup.writeIndex(old.unionByName(docs(4L -> s"$base four")),
      "text", "doc_id", dir)
    // band is a partition-dir column: parquet inference reads it back as
    // IntegerType (CLAUDE.md lesson) — compare via Number
    def rows3(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getLong(1),
        r.getAs[Number](2).longValue)).toSet
    val sidecar = rows3(spark.read.parquet(IncrementalDedup.countsPath(dir)))
    val derived = rows3(spark.read.parquet(dir)
      .groupBy(col("band"), col("band_hash")).agg(count(lit(1)).as("ic")))
    assert(sidecar == derived)

    val batch = docs(10L -> s"$base ten")
    def mined = IncrementalDedup.newDocCandidates(spark, batch,
        "text", "doc_id", dir)
      .value.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withSidecar = mined
    // pre-sidecar index shape: no sidecar and no commit marker — the
    // probe must fall back to deriving counts and return identical
    // candidates
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(IncrementalDedup.countsPath(dir)), true)
    fs.delete(new org.apache.hadoop.fs.Path(dir, graft.lineage.Commit.Marker), false)
    assert(mined == withSidecar)
    assert(withSidecar == Set((1L, 10L), (2L, 10L), (4L, 10L)))
    spark.catalog.clearCache()
  }

  test("incremental candidates agree with full-corpus mining on the union") {
    val dir = SharedSpark.tempDir("incdedup2") + "/idx"
    val old = docs(1L -> s"$base one", 2L -> s"$base two", 3L -> other)
    val batch = docs(10L -> s"$base ten", 11L -> s"$other gamma")
    IncrementalDedup.writeIndex(old, "text", "doc_id", dir)

    val incremental = IncrementalDedup.newDocCandidates(spark, batch,
        "text", "doc_id", dir)
      .value.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashCandidates(old.unionByName(batch),
        "text", "doc_id", bands = 16, minJaccard = 0.5)
      .value.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // full mining restricted to pairs touching the batch == incremental
    val batchIds = Set(10L, 11L)
    assert(incremental ==
      full.filter(p => batchIds.contains(p._1) || batchIds.contains(p._2)))
  }
}
