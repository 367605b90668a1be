package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.constraints.Validator
import graft.sequences.SequenceSynth

/** Two-parallelism scaling benchmark (BASELINE.md protocol): run the FULL
  * constraint suite over the same synthesized input at local[N] for the
  * N-vs-4N executor scaling-efficiency criterion. One JVM = one
  * parallelism level; the wrapper script runs this twice and computes
  *   eff = (throughput_4N / throughput_N) / 4.
  *
  * Prints one JSON line per run plus a median summary line.
  */
object BenchScaling {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val cpus = opts.getOrElse("cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).toInt
    val rows = opts.getOrElse("rows", "2000000").toLong
    val input = opts.getOrElse("input", s"data/bench-seqs-$rows")
    val runs = opts.getOrElse("runs", "4").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // enough input splits that the HIGH parallelism level can saturate:
      // default 128MB over a few GB caps the scan at ~20 tasks
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = SequenceSynth.Config(rows = rows)
    val fs = new org.apache.hadoop.fs.Path(input)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fs.makeQualified(new org.apache.hadoop.fs.Path(s"$input/_SUCCESS")))) { // a crashed synth leaves no marker
      SequenceSynth.write(spark, cfg, input, buckets = 32)
      SequenceSynth.sourcesDim(spark, cfg).write.mode("overwrite").parquet(s"$input-dim")
    }
    val dim = spark.read.parquet(s"$input-dim")
    val suite = Validator.SuiteConfig()

    val times = (1 to runs).map { i =>
      val t0 = System.nanoTime()
      val df = spark.read.parquet(input)
      // one-scan path, same as Bench (stats observed under the uniqueness exchange)
      Validator.validateOneScan(spark, df, dim, suite)
      val secs = (System.nanoTime() - t0) / 1e9
      val tput = rows / secs
      println(s"""{"run":$i,"cpus":$cpus,"rows":$rows,"sec":$secs,"seq_per_sec":$tput}""")
      secs
    }
    // discard warm-up runs (cold page cache + JIT), report median of the rest
    val warmups = math.min(2, times.length - 1)
    val steady = times.drop(warmups).sorted
    val med = steady(steady.length / 2)
    println(s"""{"metric":"validated_sequences_per_sec","cpus":$cpus,"rows":$rows,"median_sec":$med,"value":${rows / med}}""")
    spark.stop()
  }
}
