package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Train/eval decontamination: find training documents that CONTAIN an
  * evaluation document's n-grams — the overlap check every benchmark-clean
  * training pipeline runs before a corpus ships.
  *
  * Containment of eval doc v in train doc t is
  * |shingles(v) ∩ shingles(t)| / |shingles(v)| over distinct k-word
  * shingles ([[TextOps.shingles]] hashes; short texts fall back to the
  * whole text as a single shingle, mirroring ShingleHashes).
  *
  * Execution shape (the 100-TB design): an INVERTED-INDEX join — both
  * sides explode to (shingle_hash, id) rows and meet on the hash — so the
  * shuffle carries 16-byte rows, never text, and pair volume is bounded by
  * true shingle co-occurrence instead of |train| × |eval|. Boilerplate
  * n-grams are the scale hazard (a shingle shared by B train docs fans out
  * B rows per eval hit): `maxShingleDf` drops shingles occurring in more
  * than that many TRAIN docs, a documented recall-for-volume trade (a
  * dropped shingle can only LOWER measured containment). The default keeps
  * the result exact.
  */
object Decontamination {

  def containmentPairs(train: DataFrame, eval: DataFrame,
                       textCol: String, idCol: String,
                       k: Int = 3, minContainment: Double = 0.8,
                       maxShingleDf: Int = Int.MaxValue): Cached[DataFrame] = {
    def distinctShingles(c: Column): Column =
      array_distinct(TextOps.shingles(c, k))

    val tSh0 = train.select(col(idCol).as("train_id"),
      explode(distinctShingles(col(textCol))).as("h"))
    val (tSh, pinned) =
      if (maxShingleDf == Int.MaxValue) (tSh0, Nil)
      else {
        // boilerplate shingles counted via groupBy (map-side partial agg
        // collapses a hot shingle inside each partition) and removed with
        // an AQE-broadcast anti-join — a by-hash window count would pin
        // all occurrences of the hottest shingle into one partition, the
        // straggler the cap exists to prevent. The (id, h) rows are
        // persisted so the count pass and the join side share one
        // shingle derivation; close() the returned handle after
        // consuming the pairs.
        val rows = tSh0.persist(StorageLevel.MEMORY_AND_DISK)
        val hot = rows.groupBy(col("h"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf)
          .select(col("h"))
        (rows.join(hot, Seq("h"), "left_anti"), Seq(rows))
      }

    val eSh = eval.select(col(idCol).as("eval_id"),
        distinctShingles(col(textCol)).as("sh"))
      .select(col("eval_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("h"))

    Cached(tSh.join(eSh, "h")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("overlap"), max(col("n_sh")).as("n_sh"))
      .withColumn("containment",
        col("overlap") / col("n_sh").cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("train_id"), col("eval_id"), col("containment")),
      pinned)
  }
}
