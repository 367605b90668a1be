package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Direct differential pin of the base+delta layout: whatever sequence of
  * appends, folds, and replays runs, `read` must return EXACTLY the union
  * of the appended batches (minus the excluded one) — the probe result is
  * never allowed to depend on how the data is physically split between
  * base generations and deltas.
  */
class CompactedIndexSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fs(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rowsOf(batchId: Long, n: Int) =
    (0 until n).map(i => (batchId * 1000 + i, s"band${i % 3}"))
      .toDF("id", "band")

  private def readIds(root: String, exclude: Long): Set[Long] =
    CompactedIndex.read(spark, fs(root), root, exclude)
      .map(_.select("id").collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty)

  test("fuzz: read == union of appends across random fold schedules and replays") {
    for (seed <- Seq(3, 19)) {
      val rng = new scala.util.Random(seed)
      val root = SharedSpark.tempDir(s"cidx$seed")
      val maxDeltas = 1 + rng.nextInt(2) // fold early and often
      val reference = scala.collection.mutable.Map[Long, Set[Long]]()
      for (b <- 0L until 10L) {
        val n = 1 + rng.nextInt(4)
        val df = rowsOf(b, n)
        reference(b) = df.select("id").collect().map(_.getLong(0)).toSet
        CompactedIndex.append(df, root, b, Seq("band"))
        // replay model: an append crashed after writing, the batch reruns
        if (rng.nextBoolean()) CompactedIndex.append(df, root, b, Seq("band"))
        // the probe of batch b+1 sees everything; a replay probe of batch
        // b itself must NOT see batch b (self-exclusion), fold or no fold
        assert(readIds(root, -1L) == reference.values.flatten.toSet,
          s"seed $seed batch $b full read")
        assert(readIds(root, b) ==
          (reference - b).values.flatten.toSet,
          s"seed $seed batch $b self-excluded read")
        CompactedIndex.maybeCompact(spark, fs(root), root, b, maxDeltas, Seq("band"))
        // and again after the (possible) fold — physically different
        // layout, identical contents
        assert(readIds(root, -1L) == reference.values.flatten.toSet,
          s"seed $seed batch $b full read post-fold")
        assert(readIds(root, b) ==
          (reference - b).values.flatten.toSet,
          s"seed $seed batch $b self-excluded read post-fold")
      }
      // listing growth is bounded at ~2x the fold threshold (just-folded
      // deltas are retained one grace cycle for concurrent readers)
      val deltaDirs = new java.io.File(s"$root/deltas").listFiles
        .count(_.getName.startsWith("batch_id="))
      assert(deltaDirs <= 2 * maxDeltas + 2, s"seed $seed deltas: $deltaDirs")
      // dedup within a partition is the CALLER's contract (appends are
      // whole-partition overwrites) — no row appears twice
      val all = CompactedIndex.read(spark, fs(root), root, -1L).get
      assert(all.count() == all.dropDuplicates("id").count())
    }
  }

  test("an uncommitted (markerless) generation is invisible and later garbage-collected") {
    val root = SharedSpark.tempDir("cidx-orphan")
    for (b <- 0L until 3L)
      CompactedIndex.append(rowsOf(b, 2), root, b, Nil)
    // crashed fold at batch 3: generation data written, marker never created
    rowsOf(0L, 2).unionByName(rowsOf(1L, 2))
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").parquet(s"$root/base/gen-3")
    assert(readIds(root, -1L).size == 6, "orphan generation must be invisible")
    // the next real compaction (batch 4) folds correctly and sweeps the orphan
    CompactedIndex.append(rowsOf(3L, 2), root, 3L, Nil)
    CompactedIndex.append(rowsOf(4L, 2), root, 4L, Nil)
    CompactedIndex.maybeCompact(spark, fs(root), root, 4L, 1, Nil)
    assert(readIds(root, -1L).size == 10)
    assert(!new java.io.File(s"$root/base/gen-3").exists ||
      new java.io.File(s"$root/base/gen-3/_GRAFT_COMMITTED").exists,
      "markerless orphan below the compacting batch must be swept")
  }
}
