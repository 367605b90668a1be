package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.constraints.Validator
import graft.sequences.SequenceSynth

/** Stage-level profile of the validation suite: times each of the suite's
  * jobs in isolation (plus decode-cost floors) so optimization effort goes
  * where the seconds are. Not part of the driver contract — a diagnostic.
  *
  * Usage: runMain graft.tools.SuiteProfile [rows] [runs]
  */
object SuiteProfile {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 8000000L
    val runs = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = s"target/bench-seqs-$rows"
    val cfg = SequenceSynth.Config(rows = rows)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fs.makeQualified(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")))) {
      SequenceSynth.write(spark, cfg, dir, buckets = cpus.toInt)
      SequenceSynth.sourcesDim(spark, cfg).write.mode("overwrite").parquet(s"$dir-dim")
    }
    val suiteCfg = Validator.SuiteConfig(vocabSize = cfg.vocabSize,
      minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)

    def bestOf(name: String)(f: => Unit): Unit = {
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s best=${ts.min}%6.2fs  all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }

    def df = spark.read.parquet(dir)

    // warm JIT + page cache once with the full suite
    { Validator.validateOneScan(spark, df,
        spark.read.parquet(s"$dir-dim"), suiteCfg)
      spark.catalog.clearCache() }

    // decode-cost floors
    bestOf("scan_count_only")(df.count())
    bestOf("scan_ntok_sum")(df.agg(sum("n_tok")).collect())
    bestOf("scan_tokens_sum_size")(df.agg(sum(size(col("tokens")))).collect())
    bestOf("scan_tokens_stats_walk")(
      df.agg(sum(graft.sequences.TokenStats.token_stats(col("tokens"))
        .getField("max"))).collect())

    // suite stages in isolation
    bestOf("stage_violations_count")(Validator.violations(df, suiteCfg).count())
    bestOf("stage_observed_stats") {
      val (observed, statsThunk) = Validator.observeStats(df, suiteCfg)
      Validator.violations(observed, suiteCfg).count()
      statsThunk()
    }
    bestOf("stage_dup_stats") {
      Validator.dupStats(df, suiteCfg)
    }
    bestOf("full_validate_one_scan") {
      Validator.validateOneScan(spark, df,
        spark.read.parquet(s"$dir-dim"), suiteCfg)
    }
    spark.stop()
  }
}
