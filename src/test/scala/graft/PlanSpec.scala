package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.constraints.Validator
import graft.sequences.SequenceSynth

/** Plan-shape regressions: the properties that make the engine viable at
  * cluster scale must survive refactors — column pruning, map-side partial
  * aggregation, broadcast joins for small dims, real partition pruning on
  * the resume path.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private lazy val seqDir: String = {
    val dir = SharedSpark.tempDir("planspec")
    SequenceSynth.write(spark, SequenceSynth.Config(rows = 5000), s"$dir/seqs", 2)
    s"$dir/seqs"
  }
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val suite = Validator.SuiteConfig()

  test("violations filter evaluates one native mask, never inlined token_stats walks") {
    val p = plan(Validator.violations(spark.read.parquet(seqDir), suite))
    assert(!p.contains("token_stats"), "token_stats must not appear (5x-inline regression)")
    val inFilter = "Filter".r.findAllIn(p).size >= 1
    assert(inFilter && p.contains("violation_mask"))
  }

  test("dupStats: one exchange of hash pairs, reading the doc_id column only") {
    def dups = Validator.duplicateHashes(spark.read.parquet(seqDir))
    val p = plan(dups)
    assert(p.contains("ReadSchema: struct<doc_id:string>"),
      s"uniqueness must read the key column only:\n$p")
    assert(p.contains("partial_count"), s"the count must partially aggregate map-side:\n$p")
    val exchanges = exchangeAttrs(dups)
    assert(exchanges.size == 1, s"expected exactly one exchange: $exchanges")
    exchanges.foreach { attrs =>
      assert(!attrs.exists(_.dataType == org.apache.spark.sql.types.StringType),
        s"an exchange carries a string column: ${attrs.mkString(",")}")
    }
  }

  test("resume-path filter prunes partitions at the scan") {
    val p = plan(spark.read.parquet(seqDir)
      .filter(col("source").isin("web", "books")).groupBy("source").count())
    assert(p.contains("PartitionFilters: [source"),
      s"source filter must become a partition filter:\n$p")
  }

  test("small-dim joins broadcast") {
    val p = plan(Queries.defs.toMap.apply("q18_region_rollup")
      .fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge for tiny dims:\n$p")
  }

  test("predicate pushdown reaches the parquet scan") {
    val p = plan(spark.read.parquet(s"/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 10).select("l_orderkey"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10"),
      s"filter must push to the scan:\n$p")
  }

  test("minhash candidate self-join reads the materialized signature table, not the corpus twice") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"some words $i repeated here " * 5))
      .toDF("id", "text")
    val p = plan(graft.ops.Dedup.minhashCandidates(docs, "text", "id").value)
    // both join sides must come from the persisted signature table
    assert(p.contains("InMemoryTableScan"),
      s"expected cached signature scan in:\n$p")
    // the raw text is shingled at most once in this plan (cache population);
    // it must NOT appear on both sides of the join
    assert("shingle_hashes".r.findAllIn(p).size <= 1,
      s"corpus must be shingled once, plan:\n$p")
  }

  test("IVF training is bit-deterministic across runs") {
    import graft.ops.Ivf
    import spark.implicits._
    val vecs = (0 until 300).map { i =>
      (i.toLong, Seq.tabulate(6)(j => math.sin(i * 7 + j * 3).toFloat))
    }.toDF("vec_id", "embedding").repartition(8)
    val a = Ivf.trainCentroids(vecs, "embedding", "vec_id", nlist = 5)
    val b = Ivf.trainCentroids(vecs, "embedding", "vec_id", nlist = 5)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // double-typed vectors train too (round-1 regression: getSeq[Float] crash)
    val dvecs = (0 until 100).map { i =>
      (i.toLong, Seq.tabulate(6)(j => math.sin(i * 7 + j * 3)))
    }.toDF("vec_id", "embedding")
    val c = Ivf.trainCentroids(dvecs, "embedding", "vec_id", nlist = 3)
    assert(c.length == 3)
  }

  test("SourceMix keeps the threshold join a broadcast: one corpus pass, no corpus shuffle") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    val p = plan(graft.ops.SourceMix.temperatureSample(docs, "doc_id", "src", 500L))
    assert(p.contains("BroadcastHashJoin"),
      "the sources-sized threshold table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a corpus-side shuffle for the threshold join defeats the one-pass design")
  }

  test("EpochPlan: plan table broadcasts, no window, explode is the only amplification") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, s"s${i % 3}", 50L))
      .toDF("doc_id", "src", "n_tok")
    val p = plan(graft.ops.EpochPlan.epochSample(docs, "doc_id", "src",
      "n_tok", 150000L))
    assert(p.contains("BroadcastHashJoin"),
      "the sources-sized plan table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a corpus-side shuffle for the plan join defeats the one-pass design")
    assert(!p.contains("Window"), "epoch assignment must not use a window")
  }

  test("SourceOverlap: sizes and intersections share ONE cached co-occurrence pass") {
    import spark.implicits._
    val docs = (0L until 60L).map { i =>
      (i, s"s${i % 4}", s"word${i % 7} alpha beta gamma delta word${i % 5} tail")
    }.toDF("doc_id", "source", "text")
    val h = graft.ops.SourceOverlap.overlapMatrix(docs, "text", "source")
    try {
      val p = plan(h.value)
      // all three consumers (off-diagonal + two size broadcasts) must
      // read the cached sources^2 frame — that cache is what makes the
      // corpus shingle/shuffle run exactly once (each InMemoryRelation
      // render re-prints the cached subtree, so counting shingle_hashes
      // occurrences in the STRING would be meaningless)
      assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
        s"every consumer must read the cached sources^2 frame:\n$p")
      assert(!p.contains("SortMergeJoin"),
        "size joins must broadcast (sources^2-sized build side)")
    } finally h.close()
  }

  test("TrainOrder: no global sort — sharded window + broadcast offsets only") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.ops.TrainOrder.trainOrder(docs, "doc_id", shards = 8))
    assert(p.contains("Window"), "rank must come from a window")
    assert(!p.contains("Exchange SinglePartition"),
      "an unpartitioned window would pull the corpus through ONE task")
    assert(p.contains("BroadcastHashJoin"),
      "the S-sized offset table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a corpus-side shuffle for the offset join defeats the design")
  }

  test("CorpusDiff: no exchange ever carries text — 24-byte rows only") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val exchanges = exchangeOutputs(graft.ops.CorpusDiff.diff(
      docs, docs.withColumn("text", concat(col("text"), lit("x"))),
      "doc_id", "text"))
    assert(exchanges.nonEmpty, "full outer join must exchange on the id")
    exchanges.foreach { cols =>
      assert(!cols.contains("text"),
        s"an exchange carries the payload: $cols")
    }
  }

  test("calibration: histogram partial-aggregates map-side; no exchange carries corpus rows") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.ops.Calibration.thresholdReport(
      docs, "source", "n_chars", 0.1))
    // the ONLY corpus-sized step is the (group, score) groupBy, and it
    // must collapse map-side before its exchange
    assert(p.contains("partial_count") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      s"histogram groupBy must partial-aggregate:\n$p")
    // every exchange (incl. the window inputs) ships histogram rows:
    // never a document id or text — the per-row rank-window shape would
    val outs = exchangeOutputs(graft.ops.Calibration.thresholdReport(
      docs, "source", "n_chars", 0.1))
    assert(outs.nonEmpty)
    outs.foreach { cols =>
      assert(!cols.contains("doc_id") && !cols.contains("text"),
        s"an exchange carries corpus rows: $cols")
    }
  }

  test("brute-force top-k plans as TakeOrderedAndProject (no global sort)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(graft.ops.Similarity.bruteTopK(
      emb, "embedding", "vec_id", Seq.fill(64)(0.1f), 10))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must use heaps:\n$p")
  }

  // Exchange nodes (shuffle AND broadcast — a broadcast of text is the
  // same hygiene violation) of the df built by `mk`, including those in
  // the plans of cached tables it reads (an InMemoryTableScanExec is a
  // leaf: its cached plan is not among its children, and may itself be
  // adaptive). Built with AQE off: AdaptiveSparkPlanExec hides its
  // exchanges from collect until execution, and sparkPlan predates
  // EnsureRequirements entirely.
  private def exchangeAttrs(mk: => DataFrame)
      : Seq[Seq[org.apache.spark.sql.catalyst.expressions.Attribute]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[Seq[org.apache.spark.sql.catalyst.expressions.Attribute]] =
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => Seq(e.output)
        case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      }.flatten
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try walk(mk.queryExecution.executedPlan)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
  private def exchangeOutputs(mk: => DataFrame): Seq[Seq[String]] =
    exchangeAttrs(mk).map(_.map(_.name))

  test("decontamination shuffles only (hash, id) rows — never text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = graft.ops.Decontamination.containmentPairs(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "text", "doc_id")
    val exchanges = exchangeOutputs(pairs)
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      assert(!cols.exists(_.contains("text")),
        s"an exchange carries text: ${cols.mkString(",")}")
    }
  }

  test("one-scan suite: no exchange at all on the violations+stats job") {
    val df = spark.read.parquet(seqDir)
    val (observed, _) = Validator.observeStats(df, suite)
    val viols = Validator.violations(observed, suite)
    assert(exchangeOutputs(viols).isEmpty,
      "the fused scan is shuffle-free (stats ride an accumulator)")
    assert(viols.queryExecution.executedPlan.toString.contains("CollectMetrics"))
  }

  test("dupSpans flags via a partial aggregate, never a single-partition by-hash window") {
    import spark.implicits._
    val docs = (0 until 60).map(i => (i.toLong,
      s"shared boiler plate words here always tail$i plus filler")).toDF("id", "text")
    val h = graft.ops.DupSpans.dupSpansKeepFirst(docs, "text", "id",
      windowWords = 4)
    val p = plan(h.value)
    // per-hash stats (count + first occurrence) must partially aggregate
    // map-side: a hot boilerplate hash collapses to one row per input
    // partition before the exchange
    assert(p.contains("partial_min") || p.contains("partial_first") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      s"hash stats must partial-aggregate:\n$p")
    // exactly ONE window remains: the per-document gaps-and-islands
    // row_number — the round-2 by-hash Window (count + rank over h) is gone
    assert("Window".r.findAllIn(p).size == 1,
      s"expected only the per-doc islands window:\n$p")
    h.close()
  }

  test("dupSpans fan-out: fires on a single-split scan, runs no job on a frame with an exchange") {
    import spark.implicits._
    val dir = SharedSpark.tempDir("planspec-fanout") + "/docs"
    (0 until 60).map(i => (i.toLong, s"shared boiler plate words here tail$i"))
      .toDF("id", "text").coalesce(1).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(scan.rdd.getNumPartitions == 1)
    def roundRobin(df: DataFrame): Boolean =
      graft.ops.DupSpans.windowsOf(df, "text", "id", 4)
        .queryExecution.sparkPlan.toString.contains("RoundRobinPartitioning")
    assert(roundRobin(scan.filter(col("id") >= 0)), "a one-split scan must fan out")

    // not scan-rooted: the gate must neither fan out nor execute upstream
    // stages (AQE runs them when `.rdd` is asked for partitions)
    val grouped = scan.groupBy(col("id")).agg(first(col("text")).as("text"))
    val (fannedOut, jobs) =
      org.apache.spark.graftbridge.JobLog.record(spark.sparkContext)(roundRobin(grouped))
    assert(jobs.isEmpty, "windowsOf launched a job at plan time")
    assert(!fannedOut, "a frame that is not scan-rooted must be left as is")
  }

  test("miner bucket caps count via groupBy partial agg, not a by-key window") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"some words $i repeated here " * 5))
      .toDF("id", "text")
    val h = graft.ops.Dedup.minhashCandidates(docs, "text", "id")
    assert(!plan(h.value).contains("Window"),
      "no window anywhere in the candidate-mining plan")
    h.close()
  }

  test("rank<=k windows get partial WindowGroupLimit (top-k pruned before the exchange)") {
    // Catalyst's InferWindowGroupLimit makes the naive per-group rank
    // window scale-safe: only k rows per map partition reach the
    // exchange, so the final per-group partition is bounded regardless of
    // group size. This is why q08/q38 keep the declarative shape instead
    // of a hand-rolled salted two-phase top-k.
    for (q <- Seq("q08_topk_window", "q38_top_words")) {
      val p = plan(Queries.defs.toMap.apply(q).fn(spark, "/root/testdata/sf0.001"))
      assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
        s"$q must carry a partial WindowGroupLimit:\n$p")
    }
  }

  test("q41 sketch vocabulary: bounded sketch buffers cross the wire, never a (group, word) count table") {
    val p = plan(Queries.defs.toMap.apply("q41_top_words_sketch")
      .fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("partial_freq_items_agg"),
      s"the Misra-Gries sketch must partially aggregate map-side:\n$p")
    // the exact path's scale bottleneck is the distinct-(group, word)
    // exchange; the sketch path must not have one — every hash exchange
    // in the plan must be keyed WITHOUT the word column. Whole plan
    // LINES are the inspection unit (a [^)]* regex would truncate at the
    // first nested ')' and could skip a later word key).
    val hashLines = p.linesIterator.filter(_.contains("hashpartitioning")).toList
    assert(hashLines.nonEmpty, s"expected a group-keyed exchange:\n$p")
    hashLines.foreach(l => assert(!l.contains("word"),
      s"a word-keyed exchange crept back in: $l\n$p"))
  }

  test("q42 batch kNN: rank<=k pruned by a partial WindowGroupLimit before the exchange") {
    val p = plan(Queries.defs.toMap.apply("q42_batch_knn")
      .fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"per-id top-k must prune map-side:\n$p")
  }

  test("dropExactDuplicates: keep decision on (hash, id) only — text never enters an exchange") {
    // the round-3 shape windowed over xxhash64(text) carrying the FULL
    // row: a mostly-unique 100-TB corpus shuffled ~everything, bodies
    // included. Now drops are decided on the narrow projection (groupBy =
    // map-side partial agg, skew-safe) and the payload side anti-joins
    // the small drop-id set.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val h = graft.ops.Dedup.dropExactDuplicates(docs, "text", "doc_id")
    // exchangeOutputs also walks the persisted (hash, hash2, id) table's
    // own plan, so a text-carrying exchange cannot hide behind the cache
    val exchanges = exchangeOutputs(h.value)
    exchanges.foreach { cols =>
      assert(!cols.exists(_.contains("text")),
        s"an exchange carries text: ${cols.mkString(",")}")
    }
    assert(!plan(h.value).contains("Window"),
      "no by-key window anywhere in the dedup plan (hot-content straggler)")
    h.close()
  }

  test("bucketed packing key raises exchange parallelism above #sources") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val keyed = docs.withColumn("grp",
      graft.ops.Packing.bucketKey(col("source"), col("doc_id"), 100L))
    val nSources = docs.select("source").distinct().count()
    val nGroups = keyed.select("grp").distinct().count()
    assert(nGroups > nSources,
      s"bucketed key must split sources: $nGroups groups vs $nSources sources")
    // and the packs respect bucket boundaries: every pack's ids live in
    // ONE (source, bucket) cell
    val packs = graft.ops.Packing.packGreedy(keyed, "grp", "doc_id",
      "n_chars", 1024)
    val bad = packs.filter(
      floor(col("seq_ids").getItem(0) / 100) =!=
        floor(element_at(col("seq_ids"), -1) / 100)).count()
    assert(bad == 0, "a pack crossed an id-range bucket")
  }

  test("packing's only exchange ships (group, id, len) — never the payload") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val packed = graft.ops.Packing.packGreedy(
      docs.withColumn("len", length(col("text"))),
      "source", "doc_id", "len", 1024)
    val exchanges = exchangeOutputs(packed)
    assert(exchanges.nonEmpty, "the group exchange must be visible")
    exchanges.foreach { cols =>
      assert(!cols.exists(_.contains("text")),
        s"an exchange carries text: ${cols.mkString(",")}")
    }
  }
}
