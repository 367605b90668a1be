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
  * partition's violations, then, LAST, its state file `sources/<source>`:
  * the fingerprint plus the caller's payload (the partition's stats),
  * replaced atomically ([[Commit.writeAtomic]]) and read on the driver;
  * a restarted run revalidates ONLY partitions whose fingerprint changed —
  * the skip is a real scan skip, because the remaining sources are read
  * with a partition-pruning filter. The cross-partition uniqueness totals
  * sit in one more state file, `uniqueness`, keyed by the fingerprint of
  * the whole input ([[inputFingerprint]]).
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
        PartitionLineage(source, md5Hex(files))
      }
  }

  private def stateFile(statePath: String, source: String): Path =
    new Path(s"$statePath/sources/$source")

  /** The global uniqueness totals' state file: beside `sources/`, so no
    * reader of source state ([[stateSources]], `state-audit`) lists it.
    */
  private def uniquenessFile(statePath: String): Path =
    new Path(s"$statePath/uniqueness")

  /** The whole input's lineage: one digest over every partition's
    * (source, fingerprint), sorted by source.
    */
  def inputFingerprint(partitions: Seq[PartitionLineage]): String =
    md5Hex(partitions.sortBy(_.source).map(pl => s"${pl.source}:${pl.fingerprint}"))

  private def md5Hex(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** A state file's (fingerprint, payload); None: no such file. */
  private def read(spark: SparkSession, p: Path): Option[(String, Array[Byte])] = {
    val system = fs(spark, p.toString)
    Option.when(system.exists(p)) {
      val in = system.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val nl = bytes.indexOf('\n'.toByte)
      (new String(bytes, 0, nl, StandardCharsets.UTF_8), bytes.drop(nl + 1))
    }
  }

  private def write(spark: SparkSession, p: Path, fingerprint: String,
                    payload: Array[Byte]): Unit =
    Commit.writeAtomic(fs(spark, p.toString), p,
      s"$fingerprint\n".getBytes(StandardCharsets.UTF_8) ++ payload)

  /** A partition's stored (fingerprint, payload); None: no state file. */
  def readState(spark: SparkSession, statePath: String,
                source: String): Option[(String, Array[Byte])] =
    read(spark, stateFile(statePath, source))

  /** Partitions with a state file (orphans: their partition left the input). */
  def stateSources(spark: SparkSession, statePath: String): Seq[String] = {
    val dir = new Path(s"$statePath/sources")
    val system = fs(spark, statePath)
    if (!system.exists(dir)) Nil
    else system.listStatus(dir).toSeq
      .filter(st => st.isFile && Commit.isData(st.getPath.getName))
      .map(_.getPath.getName)
  }

  def writeState(spark: SparkSession, statePath: String,
                 lineage: PartitionLineage, payload: Array[Byte]): Unit =
    write(spark, stateFile(statePath, lineage.source), lineage.fingerprint, payload)

  /** The stored uniqueness (input fingerprint, payload); None: no file. */
  def readUniqueness(spark: SparkSession, statePath: String): Option[(String, Array[Byte])] =
    read(spark, uniquenessFile(statePath))

  def writeUniqueness(spark: SparkSession, statePath: String,
                      inputFingerprint: String, payload: Array[Byte]): Unit =
    write(spark, uniquenessFile(statePath), inputFingerprint, payload)

  /** Violations are row data: source-partitioned parquet written with
    * DYNAMIC partition overwrite, so revalidating k of N partitions
    * rewrites k directories in one job.
    */
  def violationsPath(statePath: String): String = s"$statePath/violations"

  /** Split input partitions into (fingerprint-current, needs-work). */
  def plan(spark: SparkSession, inputPath: String, statePath: String)
      : (Seq[PartitionLineage], Seq[PartitionLineage]) =
    inputPartitions(spark, inputPath).partition { pl =>
      readState(spark, statePath, pl.source).exists(_._1 == pl.fingerprint)
    }
}
