package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair list — the cluster-forming
  * step of a dedup pipeline (near-dup PAIRS from [[Dedup]] become dedup
  * GROUPS; the canonical representative is the minimum id, matching
  * [[Dedup.exactGroups]]' keep-min convention).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), which
  * converges in O(log^2 n) rounds regardless of graph diameter — the
  * right choice at corpus scale where a naive min-label propagation needs
  * diameter rounds (a chain of borderline near-dups can be arbitrarily
  * long). Each round is two hash-shuffles of the (long, long) edge list —
  * no driver-side state, no collect; per-round frames are persisted and
  * truncated with `localCheckpoint` (blocks stay on the executors, no
  * checkpoint dir), so the plan does not grow with the iteration count.
  */
object Components {

  /** Open-addressing long->long map for the per-partition union-find —
    * primitive arrays (no per-entry boxing: a java.util.HashMap costs
    * ~25x the memory and defeats the point of bounding contraction
    * state). Power-of-two capacity, linear probing; Long.MinValue is the
    * empty-slot sentinel with a dedicated side slot so every long key is
    * representable.
    */
  private final class LongLongMap(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity) * 2 - 1) * 2
    private var keys = Array.fill(cap)(Long.MinValue)
    private var vals = new Array[Long](cap)
    private var n = 0
    private var hasMin = false
    private var minVal = 0L
    def size: Int = n + (if (hasMin) 1 else 0)
    private def idx(k: Long): Int = {
      var h = k * -7046029254386353131L
      h ^= h >>> 32
      var i = (h & (cap - 1)).toInt
      while (keys(i) != Long.MinValue && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def getOrDefault(k: Long, d: Long): Long =
      if (k == Long.MinValue) { if (hasMin) minVal else d }
      else { val i = idx(k); if (keys(i) == k) vals(i) else d }
    def put(k: Long, v: Long): Unit = {
      if (k == Long.MinValue) { hasMin = true; minVal = v; return }
      val i = idx(k)
      if (keys(i) != k) {
        keys(i) = k; vals(i) = v; n += 1
        if (n * 2 > cap) grow()
      } else vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap *= 2; keys = Array.fill(cap)(Long.MinValue); vals = new Array[Long](cap)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != Long.MinValue) put(ok(i), ov(i))
        i += 1
      }
    }
    /** Iterate (key, value) pairs. */
    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      if (hasMin) f(Long.MinValue, minVal)
      var i = 0
      while (i < keys.length) {
        if (keys(i) != Long.MinValue) f(keys(i), vals(i))
        i += 1
      }
    }
  }

  /** Per-partition union-find contraction: replaces each partition's edge
    * set by the star edges (node -> local component min) of its LOCAL
    * connected components — no shuffle (mapPartitions), deterministic per
    * partition. Connectivity is preserved exactly (every input edge's
    * endpoints share a local root, and shared nodes link stars across
    * partitions), so the global rounds converge to identical components —
    * but they start from a graph whose edge count is the number of
    * non-root nodes per partition instead of the raw pair count, and on
    * graphs that fit one partition the stars ARE final, so the loop
    * below converges in a single confirming round instead of O(log^2 n).
    * This is the standard local-contraction prelude to MapReduce CC
    * (Kiveris et al. SoCC'14 evaluate exactly this optimization).
    *
    * Memory: union-find state is two long arrays over the partition's
    * distinct node ids. `maxNodes` bounds it (~16 B/node + load factor;
    * the 8M default caps state at ~256 MB against a 128 MB input split
    * carrying at most ~8M edges): once the map is full, remaining edges
    * pass through uncontracted (still canonical) — graceful degradation,
    * identical results, the global rounds absorb the tail.
    */
  private[ops] def localContract(edges: DataFrame, maxNodes: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("u"), col("v")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new LongLongMap(1 << 12)
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) {
            val gp = parent.getOrDefault(p, p)
            parent.put(x, gp); x = p; p = gp
          }
          x
        }
        val passThrough = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        it.foreach { case (u, v) =>
          // a union adds at most one entry (the attached root; path
          // compression only rewrites nodes that already have entries)
          if (parent.size >= maxNodes) passThrough += ((u, v))
          else {
            val ru = find(u); val rv = find(v)
            // attach the larger root under the smaller: the surviving
            // root of every local component is its minimum id. Nodes
            // that end as roots never enter the map (find defaults to
            // self) and correctly emit nothing below.
            if (ru != rv) {
              if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
            }
          }
        }
        val stars = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        parent.foreachEntry { (node, _) =>
          val r = find(node)
          if (r != node) stars += ((node, r))
        }
        (stars ++ passThrough).iterator
      }.toDF("u", "v")
  }

  /** Round cap of [[connectedComponents]]: O(log^2 n) rounds converge
    * far below it at any corpus size.
    */
  private val MaxIter = 50

  /** (id, component) for every id appearing in a non-self pair (self-pairs
    * (a, a) are dropped by canonicalization — a node with no real edge
    * belongs to no component), where component is the minimum id of the
    * connected component. Ids must be integral (cast to long); map string
    * keys through a dictionary first.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          contractMaxNodes: Int = 8 << 20): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()

    // convergence: the canonical edge set is unchanged (count + an
    // order-invariant hash-sum; a collision masking a real change would
    // need a 64-bit coincidence across the whole edge set). The sum runs
    // in decimal(38,0): ANSI mode is on and a long sum of hashes throws
    // on overflow.
    def sig(df: DataFrame): (Long, BigInt) = {
      val r = df.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("h"))
        .collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger))
    }

    // pre-filter nulls and self-pairs BEFORE the typed contraction pass
    // (a null long would silently unbox to 0 inside mapPartitions; canon
    // used to drop both classes via its u =!= v filter, which is
    // null-dropping under three-valued logic)
    val raw = pairs.select(
        col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    val sc = pairs.sparkSession.sparkContext
    def labeled[A](desc: String)(f: => A): A = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(desc)
      try f finally sc.setJobDescription(prev)
    }
    var edges = labeled("cc: canon")(canon(raw).localCheckpoint(true))
    // carried across rounds: one action per round
    var edgesSig = labeled("cc: sig 0")(sig(edges))

    // SMALL-GRAPH contraction, gated on the MEASURED edge count (the sig
    // above is computed anyway; a plan-time gate on .rdd partition counts
    // was measured triggering early AQE stage execution — a full extra
    // shuffle of the mining tree): when the canonical edge set fits one
    // task's union-find (<= contractMaxNodes edges, state ~32 B/node,
    // pass-through past the node cap), a single-task pass computes every
    // component's final star and the round loop below converges in ONE
    // confirming round instead of O(log^2 n). Near-dup pair lists are in
    // this regime even for very large corpora (pairs ~ duplicated
    // fraction, not corpus size). Past the gate the pass is SKIPPED
    // outright: measured at 20M scattered edges, per-partition
    // contraction achieves nothing (a component's edges rarely colocate)
    // while its typed encode/decode overhead costs 40-60%
    // (OPTIMIZATION_r07.md).
    if (edgesSig._1 > 0 && edgesSig._1 <= contractMaxNodes) {
      edges = labeled("cc: contract")(
        canon(localContract(edges.coalesce(1), contractMaxNodes)).localCheckpoint(true))
      edgesSig = labeled("cc: contract sig")(sig(edges))
    }

    var it = 0
    var converged = edgesSig._1 == 0L
    while (!converged && it < MaxIter) {
      // large-star: every node attaches its strictly-larger neighbors to
      // the minimum of its neighborhood (including itself)
      val nbrs = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // ls is auto-canonical WITHOUT a distinct: the emitted pair is
      // (old v, m) with m = min(neighborhood of u, u) <= u < v, so
      // u' > v' by construction — and duplicates are harmless downstream
      // (min-aggregate + the ss distinct are set-semantics), so the
      // pre-round-7 canon() here paid a whole exchange per round for
      // nothing
      val ls = nbrs.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))

      // small-star: every node attaches its smaller-or-equal neighborhood
      // (and itself) to that neighborhood's minimum. ls is canonical
      // (u > v), so the grouping is directly by u.
      val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = canon(
        ls.join(mins2, "u").select(col("v").as("u"), col("m").as("v"))
          .union(mins2.select(col("u"), col("m").as("v"))))

      // superseded rounds: dropping the `edges` reference is what frees a
      // localCheckpoint'd frame — its blocks belong to the checkpointed
      // RDD and are reclaimed by the ContextCleaner once unreachable
      // (Dataset.unpersist would be a no-op on it). The round's two
      // actions both run over the truncated frame: the checkpoint
      // materializes ss once, the sig scan reads the materialized blocks
      // (the pre-round-7 shape paid an extra persist/unpersist cycle for
      // the same two actions).
      edges = labeled(s"cc: round ${it + 1} star")(ss.localCheckpoint(true))
      val ssSig = labeled(s"cc: round ${it + 1} sig")(sig(edges))
      converged = ssSig == edgesSig
      edgesSig = ssSig
      it += 1
    }
    require(converged || it < MaxIter,
      s"connectedComponents did not converge in $MaxIter rounds")

    // converged edges form stars (non-root, root): the assignment is the
    // star edges plus a self-assignment for each root
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Cluster summary over near-dup pairs: (component, n_docs, min_doc,
    * max_doc), one row per component. Every component has >= 2 members
    * because membership comes from the pair list and self-pairs are
    * dropped by canonicalization — ids appearing ONLY as (a, a) rows do
    * not join any component (singletons are not clusters). The convenience
    * composition used by the dedup pipeline and the q33 driver query.
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("id")).as("min_doc"), max(col("id")).as("max_doc"))
}
