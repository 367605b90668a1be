package graft.ops

import org.apache.spark.sql.DataFrame

/** A result plus the intermediate tables that were persisted to build it.
  * The candidate miners persist their narrow signature tables so one
  * shingle/signature pass feeds both sides of the bucket self-join; the
  * persisted frame must outlive the returned (lazy) DataFrame, so the
  * miner cannot unpersist it itself. Every operator that pins tables
  * returns this handle — the 11 in `ops/`: `Dedup`'s exactGroups,
  * dropExactDuplicates, minhashCandidates, simhashCandidates,
  * ngramJaccard and embeddingNearDups, `Similarity.bucketedKnn`,
  * `IncrementalDedup.newDocCandidates`, `SourceOverlap.overlapMatrix`
  * and `DupSpans`' dupSpans and dupSpansKeepFirst — with one contract:
  * consume `value`, then either `close()` to unpersist exactly what the
  * call pinned, or deliberately leak the tables (a caller that wants later plans to ride them, until
  * `spark.catalog.clearCache()`, which drops every cached table in the
  * session).
  */
final case class Cached[+A](value: A, handles: Seq[DataFrame])
    extends AutoCloseable {
  /** Unpersist every intermediate this result pinned (blocking = false:
    * eviction proceeds in the background, safe because the caller is done
    * consuming `value`).
    */
  override def close(): Unit = handles.foreach(_.unpersist())
}
