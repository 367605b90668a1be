package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog near the river bank"
  val other = "completely different words about mountains and snow and wind"
  val p = StreamingDedup.Params()

  private def pairsOf(stateDir: String): Map[(Long, Long), Long] =
    spark.read.parquet(StreamingDedup.candidatesPath(stateDir))
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        // batch_id is a hive-style partition directory -> inferred int
        r.getAs[Number]("batch_id").longValue()).toMap

  test("a zero-pair batch still leaves the candidates root readable") {
    val dir = java.nio.file.Files.createTempDirectory("sdedup0").toString
    val lonely = Seq(1L -> s"$base one", 2L -> other).toDF("doc_id", "text")
    StreamingDedup.processBatch(spark, lonely, 0L, dir, p)
    assert(spark.read.parquet(StreamingDedup.candidatesPath(dir)).count() == 0)
  }

  test("per-batch mining: each batch pays for itself, replay is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("sdedup").toString
    val b0 = Seq(1L -> s"$base one", 2L -> s"$base two", 3L -> other)
      .toDF("doc_id", "text")
    val b1 = Seq(10L -> s"$base ten", 11L -> ("utterly unrelated content in " +
      "every single shingle position of this sentence")).toDF("doc_id", "text")

    StreamingDedup.processBatch(spark, b0, 0L, dir, p)
    assert(pairsOf(dir) == Map((1L, 2L) -> 0L))

    StreamingDedup.processBatch(spark, b1, 1L, dir, p)
    assert(pairsOf(dir) ==
      Map((1L, 2L) -> 0L, (1L, 10L) -> 1L, (2L, 10L) -> 1L))

    // replay of batch 1 (crash-recovery path): same state afterwards, and
    // the index holds each batch's signatures exactly once
    StreamingDedup.processBatch(spark, b1, 1L, dir, p)
    assert(pairsOf(dir) ==
      Map((1L, 2L) -> 0L, (1L, 10L) -> 1L, (2L, 10L) -> 1L))
    val idx = CompactedIndex.contents(spark, StreamingDedup.indexPath(dir)).get
    assert(idx.count() == idx.dropDuplicates("band", "band_hash", "id").count())

    // stream == batch: the union of per-batch pairs equals full mining
    val full = graft.ops.Dedup.minhashCandidates(
        b0.unionByName(b1), "text", "doc_id",
        bands = p.bands, minJaccard = p.minJaccard)
      .value.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(dir).keySet == full)
  }

  test("index compaction: same pairs as the flat layout, deltas bounded, replay clean") {
    // 6 batches, one doc each; batch i's doc near-dups batch 0's doc, so
    // every probe must still see batch 0's signatures AFTER they are
    // folded into the compacted base (maxIndexDeltas = 1 folds early and
    // often)
    def b(i: Int) = Seq((100L + i) -> s"$base v$i").toDF("doc_id", "text")
    def run(params: StreamingDedup.Params): String = {
      val dir = java.nio.file.Files.createTempDirectory("sdedup-compact").toString
      (0 until 6).foreach(i => StreamingDedup.processBatch(spark, b(i), i.toLong, dir, params))
      dir
    }
    val compacted = run(p.copy(maxIndexDeltas = 1))
    val flat = run(p) // default 16: never folds in 6 batches
    assert(pairsOf(compacted) == pairsOf(flat))
    assert(pairsOf(compacted).keySet ==
      (for (i <- 0 until 6; j <- i + 1 until 6) yield (100L + i, 100L + j)).toSet)

    val deltaRoot = new java.io.File(
      s"${StreamingDedup.indexPath(compacted)}/deltas")
    // ~2x fold threshold: just-folded deltas retained one grace cycle
    assert(deltaRoot.listFiles.count(_.getName.startsWith("batch_id=")) <= 4)
    val baseDir = new java.io.File(s"${StreamingDedup.indexPath(compacted)}/base")
    assert(baseDir.exists && baseDir.listFiles.exists(d =>
      d.getName.startsWith("gen-") &&
        new java.io.File(d, "_GRAFT_COMMITTED").exists))

    // replay of the last batch after compaction: state unchanged, index
    // still holds each doc's signatures exactly once
    StreamingDedup.processBatch(spark, b(5), 5L, compacted, p.copy(maxIndexDeltas = 1))
    assert(pairsOf(compacted) == pairsOf(flat))
    val idx = CompactedIndex.contents(spark, StreamingDedup.indexPath(compacted)).get
    assert(idx.count() == idx.dropDuplicates("band", "band_hash", "id").count())
    assert(idx.select("id").distinct().count() == 6)
  }

  test("replay after crash-between-writes is idempotent even near the bucket cap") {
    // crash model: batch 0's signatures were appended to the index, but
    // the batch is replayed (checkpoint never advanced). The probed index
    // then already contains the batch itself; without the batch_id
    // exclusion the combined bucket count doubles (3 index + 3 fresh = 6
    // > maxBucket 4) and the replay silently drops pairs the original
    // run emitted.
    val dir = java.nio.file.Files.createTempDirectory("sdedup-cap").toString
    val trio = Seq(
      20L -> s"$base twin", 21L -> s"$base twin", 22L -> s"$base twin")
      .toDF("doc_id", "text")
    val cap = StreamingDedup.Params(maxBucket = 4)
    StreamingDedup.processBatch(spark, trio, 0L, dir, cap)
    val first = pairsOf(dir)
    assert(first.keySet == Set((20L, 21L), (20L, 22L), (21L, 22L)))
    // replay batch 0 against a state that already holds its signatures
    StreamingDedup.processBatch(spark, trio, 0L, dir, cap)
    assert(pairsOf(dir) == first, "replay changed the emitted pairs")
  }
}
