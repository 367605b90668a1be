package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  * true shingle co-occurrence instead of |train| × |eval|. The result is
  * exact: every shingle counts, however many train docs share it (a
  * shingle shared by B train docs fans out B rows per eval hit). Nothing
  * is persisted, so the plan is a plain lazy frame.
  */
object Decontamination {

  def containmentPairs(train: DataFrame, eval: DataFrame,
                       textCol: String, idCol: String,
                       k: Int = 3, minContainment: Double = 0.8): DataFrame = {
    def distinctShingles(c: Column): Column =
      array_distinct(TextOps.shingles(c, k))

    val tSh = train.select(col(idCol).as("train_id"),
      explode(distinctShingles(col(textCol))).as("h"))
    val eSh = eval.select(col(idCol).as("eval_id"),
        distinctShingles(col(textCol)).as("sh"))
      .select(col("eval_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("h"))

    tSh.join(eSh, "h")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("overlap"), max(col("n_sh")).as("n_sh"))
      .withColumn("containment",
        col("overlap") / col("n_sh").cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("train_id"), col("eval_id"), col("containment"))
  }
}
