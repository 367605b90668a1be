package graft.lineage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** Per-partition checkpoint state with input lineage, emulating
  * Iceberg-style snapshot semantics over partitioned Parquet (no Iceberg
  * jar ships in this environment; the interface is catalog-agnostic).
  *
  * Each input partition (`source=<v>` directory) is fingerprinted by its
  * data-file list (name, length, mtime). A completed validation writes the
  * partition's stats/violations, then, LAST, a manifest carrying the
  * fingerprint (replaced atomically, [[Commit.writeAtomic]]);
  * a restarted run revalidates ONLY partitions whose fingerprint changed —
  * the skip is a real scan skip, because the remaining sources are read
  * with a partition-pruning filter.
  *
  * This is the "resumable from checkpoint with per-partition lineage"
  * requirement (BASELINE.json north_rule); the reference's incremental
  * analog is the early-stopping streaming fold in example_data.clj:80-92.
  */
object Checkpoint {

  final case class PartitionLineage(source: String, fingerprint: String)

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** List `source=<v>` partitions of a hive-layout table with their
    * lineage fingerprints.
    */
  def inputPartitions(spark: SparkSession, inputPath: String): Seq[PartitionLineage] = {
    val system = fs(spark, inputPath)
    val root = new Path(inputPath)
    if (!system.exists(root)) return Nil
    system.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("source="))
      .map { st =>
        val source = st.getPath.getName.stripPrefix("source=")
        val files = system.listStatus(st.getPath).toSeq
          .filter(f => f.isFile && Commit.isData(f.getPath.getName))
          .sortBy(_.getPath.getName)
          .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        val fp = java.security.MessageDigest.getInstance("MD5")
          .digest(files.mkString("\n").getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        PartitionLineage(source, fp)
      }
  }

  private def manifestPath(statePath: String, source: String): Path =
    new Path(s"$statePath/manifests/$source.json")

  /** The one manifest reader: (fingerprint?, n_rows?) from the manifest
    * body, None when no manifest exists. [[plan]] (a rerun) matches on the
    * fingerprint alone, so n_rows is OPTIONAL: a manifest whose
    * fingerprint parses but whose row count is garbled still skips on a
    * rerun, and the audit reports what the rerun will do.
    */
  def readManifest(spark: SparkSession, statePath: String,
      source: String): Option[(Option[String], Option[Long])] = {
    val p = manifestPath(statePath, source)
    val system = fs(spark, statePath)
    if (!system.exists(p)) None
    else {
      val in = system.open(p)
      try {
        val body = new String(in.readAllBytes(), StandardCharsets.UTF_8)
        Some((
          "\"fingerprint\"\\s*:\\s*\"([0-9a-f]+)\"".r
            .findFirstMatchIn(body).map(_.group(1)),
          "\"n_rows\"\\s*:\\s*(\\d+)".r
            .findFirstMatchIn(body).map(_.group(1).toLong)))
      } finally in.close()
    }
  }

  /** Manifest sources present in the state dir (for orphan detection —
    * a manifest whose partition left the input).
    */
  def manifestSources(spark: SparkSession, statePath: String): Seq[String] = {
    val dir = new Path(s"$statePath/manifests")
    val system = fs(spark, statePath)
    if (!system.exists(dir)) Nil
    else system.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map(_.getPath.getName.stripSuffix(".json"))
  }

  def writeManifest(spark: SparkSession, statePath: String,
                    lineage: PartitionLineage, nRows: Long): Unit =
    Commit.writeAtomic(fs(spark, statePath), manifestPath(statePath, lineage.source),
      s"""{"source": "${lineage.source}", "fingerprint": "${lineage.fingerprint}", "n_rows": $nRows}"""
        .getBytes(StandardCharsets.UTF_8))

  /** State tables are source-partitioned parquet written with DYNAMIC
    * partition overwrite, so revalidating k of N partitions rewrites k
    * directories in one job (not N jobs, not a full rewrite).
    */
  def statsPath(statePath: String): String = s"$statePath/stats"
  def violationsPath(statePath: String): String = s"$statePath/violations"
  def verdictsPath(statePath: String): String = s"$statePath/verdicts"

  /** Split input partitions into (validated-and-unchanged, needs-work). */
  def plan(spark: SparkSession, inputPath: String, statePath: String)
      : (Seq[PartitionLineage], Seq[PartitionLineage]) =
    inputPartitions(spark, inputPath).partition { pl =>
      readManifest(spark, statePath, pl.source).flatMap(_._1).contains(pl.fingerprint)
    }
}
