package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lineage.Commit

/** Incremental near-duplicate detection against a PERSISTED LSH signature
  * index — the incremental shape of [[Dedup.minhashCandidates]]: when a
  * corpus grows by a fraction, only the new documents are shingled and
  * only (new x old) + (new x new) bucket pairs are generated, never the
  * old-x-old work that already ran.
  *
  * Index layout: one parquet row per (band, band_hash, id, sig),
  * partitioned by `band` so a probe's per-band join prunes to its own
  * directory; within a band the join key is band_hash. Every write
  * rebuilds the whole index; a corpus that grows is re-indexed as a
  * whole (streaming grows its own index through
  * [[graft.streaming.CompactedIndex]]).
  *
  * Giant buckets are capped by COMBINED size (index + batch rows per
  * (band, band_hash)), the same [[MaxBucket]] semantics as full mining
  * measured over the union corpus — so incremental results equal full
  * mining restricted to batch-touching pairs, degenerate buckets
  * included.
  */
object IncrementalDedup {

  /** Largest combined (index + batch) bucket that is mined. */
  private[graft] val MaxBucket = 64

  /** The banded signature rows of a corpus (the index's row shape). */
  private[graft] def signatureRows(df: DataFrame, textCol: String, idCol: String,
                                   shingleK: Int, perms: Int, bands: Int): DataFrame =
    df.select(col(idCol).as("id"),
        Dedup.minhashSignature(
          TextOps.shingles(col(textCol), shingleK), perms).as("sig"))
      .withColumn("bandinfo",
        explode(Dedup.lshBands(col("sig"), bands, perms)))
      .select(col("bandinfo.band").as("band"),
        col("bandinfo.band_hash").as("band_hash"),
        col("id"), col("sig"))

  /** Per-bucket count sidecar location. The underscore prefix keeps the
    * sidecar invisible to `spark.read.parquet(path)` partition discovery
    * (Spark skips `_`/`.`-prefixed paths), so index readers are
    * unaffected by its presence.
    */
  private[graft] def countsPath(path: String): String = s"$path/_graft_counts"

  /** The sidecar's data files. Spark ignores a read whose root path is
    * `_`-named (it warns "All paths were ignored"), so the sidecar is read
    * by its files.
    */
  private def countsFiles(fs: org.apache.hadoop.fs.FileSystem, path: String): Seq[String] =
    fs.listStatus(new org.apache.hadoop.fs.Path(countsPath(path)))
      .map(_.getPath).filter(p => Commit.isData(p.getName)).map(_.toString).toSeq

  /** Build the index. The write is a STATIC overwrite (the whole path is
    * replaced): the earlier dynamic-overwrite setting only replaced band
    * partitions present in the NEW data, so rebuilding with fewer bands
    * (or from a shrunken corpus) left stale partitions that probes would
    * happily read — candidate pairs against deleted documents.
    *
    * Rows and sidecar are written as ONE [[Commit.write]]: a crash between
    * the row write and the sidecar rewrite leaves the index uncommitted,
    * and the probe then derives counts from the rows instead of trusting
    * a stale sidecar.
    */
  def writeIndex(df: DataFrame, textCol: String, idCol: String, path: String,
                 shingleK: Int = 3, perms: Int = 32, bands: Int = 16): Unit = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Commit.write(fs, path) {
      signatureRows(df, textCol, idCol, shingleK, perms, bands)
        .write.mode("overwrite")
        .partitionBy("band").parquet(path)
      // per-bucket count sidecar: probes need the index's bucket sizes for
      // the combined-cap decision, and deriving them per probe costs a
      // second full scan of the index (at warehouse scale: half the probe
      // I/O). Counts are index METADATA maintained at write time — like a
      // table format's manifest stats — recomputed from the index's rows
      // after every write (a 2-column pruned read of the index; never a
      // second signature pass over the corpus), and statically
      // overwritten, so the sidecar always covers every row.
      spark.read.parquet(path)
        .groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("ic"))
        .write.mode("overwrite").parquet(countsPath(path))
    }
  }

  /** Candidate pairs from prepared signature rows: (fresh x index) +
    * (fresh x fresh), bucket-capped on the COMBINED bucket size. `fresh`
    * is consumed by several subplans — pass it persisted (the callers
    * own its lifecycle).
    */
  private[graft] def candidatePairs(fresh: DataFrame, index: Option[DataFrame],
                                    perms: Int, minJaccard: Double,
                                    indexCounts: Option[DataFrame] = None): DataFrame = {
    val freshCounts = fresh.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("fc"))
    val combined = index match {
      case None => freshCounts.select(col("band"), col("band_hash"),
        col("fc").as("n"))
      case Some(idx) =>
        // prefer the build-time count sidecar ((band, band_hash, ic)
        // rows): deriving ic from the index rows costs a second full
        // index scan per probe
        val ic = indexCounts.getOrElse(
          idx.groupBy(col("band"), col("band_hash"))
            .agg(count(lit(1)).as("ic")))
        freshCounts.join(ic, Seq("band", "band_hash"), "left")
          .select(col("band"), col("band_hash"),
            (col("fc") + coalesce(col("ic"), lit(0L))).as("n"))
    }
    // only buckets the batch touches matter, and only small ones join
    val okBuckets = combined.filter(col("n") <= MaxBucket)
      .select(col("band"), col("band_hash"))
    val freshOk = fresh.join(okBuckets, Seq("band", "band_hash"))

    // native agreement count (SigAgree) — the composed zip_with twin
    // pays an interpreted lambda per position per candidate pair
    def agree = SigAgree.sig_agree(col("n.sig"), col("o.sig")) /
      lit(perms.toDouble)

    // fresh x fresh within the batch
    val vsNew = freshOk.alias("n").join(freshOk.alias("o"),
        col("n.band") === col("o.band") &&
          col("n.band_hash") === col("o.band_hash") &&
          col("n.id") < col("o.id"))
      .select(col("n.id").as("id_a"), col("o.id").as("id_b"),
        agree.as("est_jaccard"))

    // fresh x indexed: the probe side is the SMALL side — broadcast it
    // when it fits (AQE decides); the index side never reshuffles its old
    // rows into new-new buckets
    val all = index match {
      case None => vsNew
      case Some(idx) =>
        val vsOld = freshOk.alias("n")
          .join(idx.join(okBuckets, Seq("band", "band_hash")).alias("o"),
            col("n.band") === col("o.band") &&
              col("n.band_hash") === col("o.band_hash") &&
              col("n.id") =!= col("o.id"))
          .select(least(col("n.id"), col("o.id")).as("id_a"),
            greatest(col("n.id"), col("o.id")).as("id_b"),
            agree.as("est_jaccard"))
        vsOld.unionByName(vsNew)
    }
    all.filter(col("est_jaccard") >= minJaccard)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** Candidate pairs for a batch of NEW documents: (new x indexed) via the
    * band join against the stored index, plus (new x new) within the
    * batch; never (indexed x indexed). `est_jaccard` is the signature
    * agreement fraction — rerank survivors with [[Dedup.ngramJaccard]]
    * against the full corpus. Parameters must match the index's build
    * parameters (they define the banding).
    *
    * The batch's narrow signature table is persisted so the
    * count/new-new/new-old subplans share one shingle pass — consume the
    * candidates, then `close()` the returned [[Cached]] handle (what
    * long-running loops do). The streaming deduplicators probe their
    * own base+delta index instead, through one shared step
    * ([[graft.streaming.MicroBatch.indexStep]]) that persists the batch's
    * signature rows around [[candidatePairs]] and appends the kept ones.
    */
  def newDocCandidates(spark: SparkSession, newDocs: DataFrame,
                       textCol: String, idCol: String, indexPath: String,
                       shingleK: Int = 3, perms: Int = 32, bands: Int = 16,
                       minJaccard: Double = 0.5): Cached[DataFrame] = {
    val fresh = signatureRows(newDocs, textCol, idCol, shingleK, perms, bands)
      .persist()
    // explicit read schemas: the index's row shape is BY CONSTRUCTION the
    // probe side's (band partition dirs + the signatureRows projection),
    // so per-call parquet schema inference (footer reads + partition
    // schema merge across every band dir, repeated each probe) is pure
    // driver overhead. Partition column `band` reads back as its
    // inferred IntegerType regardless of declaration — pin it to Integer
    // so probe plans are identical to the inferred-schema shape.
    val freshT = fresh.schema.fields.map(f => f.name -> f.dataType).toMap
    val indexSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band_hash", freshT("band_hash")),
      org.apache.spark.sql.types.StructField("id", freshT("id")),
      org.apache.spark.sql.types.StructField("sig", freshT("sig")),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType)))
    val countsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("band_hash", freshT("band_hash")),
      org.apache.spark.sql.types.StructField("ic",
        org.apache.spark.sql.types.LongType)))
    // the build-time count sidecar covers every row only when the index
    // is committed; otherwise (a crashed write, or an index older than the
    // commit marker) counts are derived from the rows
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val counts =
      if (Commit.committed(fs, indexPath))
        Some(countsFiles(fs, indexPath)).filter(_.nonEmpty)
          .map(files => spark.read.schema(countsSchema).parquet(files: _*))
      else None
    Cached(candidatePairs(fresh,
        Some(spark.read.schema(indexSchema).parquet(indexPath)),
        perms, minJaccard, counts),
      Seq(fresh))
  }
}
