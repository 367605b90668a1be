package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.constraints.Validator
import graft.sequences.SequenceSynth

/** Plan-quality inspector: prints formatted physical plans of the engine's
  * hot paths so scan pruning / partial aggregation / codegen spans can be
  * reviewed. Not a test — a tool (`sbt "Test/runMain graft.PlanCheck"`).
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = SharedSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("plan").toString
    val cfg = SequenceSynth.Config(rows = 10000)
    SequenceSynth.write(spark, cfg, s"$dir/seqs", buckets = 2)
    val df = spark.read.parquet(s"$dir/seqs")
    val suite = Validator.SuiteConfig()

    println("==== violations ====")
    Validator.violations(df, suite).explain("formatted")
    println("==== q17 join (broadcast?) ====")
    Queries.defs.toMap.apply("q17_join_revenue").fn(spark, "/root/testdata/sf0.001")
      .explain("formatted")
    println("==== q02 agg pricing ====")
    Queries.defs.toMap.apply("q02_agg_pricing").fn(spark, "/root/testdata/sf0.001")
      .explain("formatted")
    println("==== partition-pruned scan (resume path) ====")
    df.filter(col("source").isin("web", "books")).groupBy("source").count()
      .explain("formatted")
    println("==== one-scan suite: observed stats under the hash-pair uniqueness exchange ====")
    val (observed, _) = Validator.observeStats(df, suite)
    Validator.duplicateHashes(observed).explain("formatted")
    println("==== resume write: violations + observed stats ====")
    Validator.violations(observed, suite).explain("formatted")
    println("==== count-only uniqueness alone: hash-pair exchange (dupStats) ====")
    Validator.duplicateHashes(df).explain("formatted")

    println("==== round 3: miner pair join over the co-partitioned capped cache ====")
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"some words $i repeated here " * 5))
      .toDF("id", "text")
    val mh = graft.ops.Dedup.minhashCandidates(docs, "text", "id")
    mh.value.explain("formatted")
    mh.close()
    println("==== round 3: de-skewed dupSpans (partial agg + join-back, one per-doc window) ====")
    val ds = graft.ops.DupSpans.dupSpansKeepFirst(docs, "text", "id", 4)
    ds.value.explain("formatted")
    ds.close()
    println("==== round 3: q08 rank top-k (partial WindowGroupLimit) ====")
    Queries.defs.toMap.apply("q08_topk_window").fn(spark, "/root/testdata/sf0.001")
      .explain("formatted")

    // round 6: capture the graded-query plan TEXT for q43+ (the round-5
    // PLANS.md sections were prose; the stated purpose of that file is
    // the plans themselves). explain() only PLANS the frame — but several
    // of these queries run driver-side training/catalog jobs while
    // BUILDING it (BPE merges, LM counts, CT profiles, mix thresholds),
    // which is fine at sf0.001.
    val round56 = Seq(
      "q43_source_mix", "q44_leakfree_split", "q45_epoch_plan",
      "q46_source_overlap", "q47_train_order", "q48_split_audit",
      "q49_corpus_diff", "q50_dedup_cut", "q51_boilerplate",
      "q52_calibration", "q53_drift_ks", "q54_chunking",
      "q55_bpe_tokenizer", "q56_audio_decode", "q57_lm_perplexity",
      "q58_langid_ct", "q59_url_canon", "q60_token_packing")
    round56.foreach { name =>
      println(s"==== round 5/6 graded: $name ====")
      Queries.defs.toMap.apply(name).fn(spark, "/root/testdata/sf0.001")
        .explain("formatted")
    }
    spark.stop()
  }
}
