package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The streaming prep chain must implement keep-first semantics exactly:
  * quality rejects never block future docs, only KEPT docs enter the
  * dedup indexes, per-batch artifacts are replay-idempotent, and on a
  * chain-free corpus the kept set is invariant to how the input is
  * batched (one batch vs increments).
  */
class StreamingPipelineSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // two disjoint-vocabulary 32-word families (all-alphabetic — digits
  // would trip the digit_heavy quality rule): one-word edits stay
  // comfortably above the 0.5 signature-agreement threshold (J ~ 0.82)
  // and cross-family pairs sit at ~0
  private def fam(prefix: String): String =
    (1 to 32).map(i =>
      prefix + ('a' + i / 26).toChar + ('a' + i % 26).toChar).mkString(" ")
  private val famA = fam("alpha")
  private val famE = fam("echo")
  private def edit(s: String, from: String, to: String) = s.replace(from, to)

  private val docs = Seq(
    (1L, famA, "web"),                                  // kept
    (2L, fam("bravo"), "web"),                          // kept
    (3L, "tiny", "web"),                                // quality reject
    (10L, edit(famA, "alphaaq", "zulu"), "web"),        // near dup of 1
    (11L, famA, "books"),                               // exact dup of 1
    (12L, famE, "web"),                                 // kept
    (13L, edit(famE, "echoaq", "yankee"), "web"))       // near dup of 12 (13 > 12)

  private def df(ids: Long*): DataFrame =
    docs.filter(d => ids.contains(d._1)).toDF("doc_id", "text", "source")

  private val p = StreamingPipeline.Params()

  /** TextOps.shingles semantics in plain Scala (distinct trigram word
    * shingles, whole-text fallback under 3 words) — the rerank oracle.
    */
  private def shingleSet(t: String): Set[String] = {
    val w = t.split(" ", -1)
    if (w.length < 3) Set(t) else w.sliding(3).map(_.mkString(" ")).toSet
  }
  private def trueJaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingleSet(a), shingleSet(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  private def keptIds(dir: String): Set[Long] =
    StreamingPipeline.train(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
  private def rejectStages(dir: String): Map[Long, String] =
    StreamingPipeline.rejects(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("stage"))
      .toMap

  test("increments == one batch on a chain-free corpus; stages attributed") {
    val incDir = SharedSpark.tempDir("spipe-inc")
    StreamingPipeline.processBatch(spark, df(1L, 2L, 3L), 0L, incDir, p)
    assert(keptIds(incDir) == Set(1L, 2L))
    assert(rejectStages(incDir) == Map(3L -> "quality"))

    StreamingPipeline.processBatch(spark, df(10L, 11L, 12L, 13L), 1L, incDir, p)
    assert(keptIds(incDir) == Set(1L, 2L, 12L))
    assert(rejectStages(incDir) == Map(
      3L -> "quality",
      11L -> "exact_dup",  // content hash kept in batch 0
      10L -> "near_dup",   // pairs with prior-kept doc 1
      13L -> "near_dup"))  // pairs with smaller-id batch doc 12

    val oneDir = SharedSpark.tempDir("spipe-one")
    StreamingPipeline.processBatch(spark,
      df(1L, 2L, 3L, 10L, 11L, 12L, 13L), 0L, oneDir, p)
    assert(keptIds(oneDir) == keptIds(incDir))
    assert(rejectStages(oneDir) == rejectStages(incDir))
  }

  test("only kept docs enter the indexes; a rejected doc never blocks a future one") {
    val dir = SharedSpark.tempDir("spipe-keep")
    // batch 0: doc 10 (the near-dup EDIT of famA) arrives FIRST and is
    // kept; doc 3 is a quality reject
    StreamingPipeline.processBatch(spark, df(10L, 3L), 0L, dir, p)
    assert(keptIds(dir) == Set(10L))
    // batch 1: doc 1 (famA) is near-dropped against KEPT doc 10 —
    // keep-first, arrival order wins, not id order across batches
    StreamingPipeline.processBatch(spark, df(1L), 1L, dir, p)
    assert(keptIds(dir) == Set(10L))
    assert(rejectStages(dir)(1L) == "near_dup")
    // the quality-rejected doc 3 is in no index
    val hashIdx = CompactedIndex.contents(spark, StreamingPipeline.hashIndexPath(dir)).get
    assert(hashIdx.select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L))
    val sigIdx = CompactedIndex.contents(spark, StreamingPipeline.sigIndexPath(dir)).get
    assert(sigIdx.select("id").distinct().collect().map(_.getLong(0)).toSet == Set(10L))
  }

  test("replay of a batch (crash between writes) is idempotent") {
    val dir = SharedSpark.tempDir("spipe-replay")
    StreamingPipeline.processBatch(spark, df(1L, 2L, 3L), 0L, dir, p)
    StreamingPipeline.processBatch(spark, df(10L, 11L, 12L, 13L), 1L, dir, p)
    val kept1 = keptIds(dir); val stages1 = rejectStages(dir)
    val hashCount = CompactedIndex.contents(spark, StreamingPipeline.hashIndexPath(dir)).get.count()
    // the crash model: batch 1's indexes are already written; replaying
    // batch 1 must yield the identical state (reads exclude own batch_id)
    StreamingPipeline.processBatch(spark, df(10L, 11L, 12L, 13L), 1L, dir, p)
    assert(keptIds(dir) == kept1)
    assert(rejectStages(dir) == stages1)
    assert(CompactedIndex.contents(spark, StreamingPipeline.hashIndexPath(dir)).get.count() == hashCount)
  }

  test("an all-rejected first batch leaves train/rejects roots readable") {
    val dir = SharedSpark.tempDir("spipe-empty")
    StreamingPipeline.processBatch(spark, df(3L), 0L, dir, p) // quality reject
    assert(keptIds(dir) == Set.empty)
    assert(rejectStages(dir) == Map(3L -> "quality"))
    // and a later batch still lands normally
    StreamingPipeline.processBatch(spark, df(1L), 1L, dir, p)
    assert(keptIds(dir) == Set(1L))
  }

  test("a batch over both prior indexes runs in a bounded number of jobs") {
    // a write refreshes every cached plan that reads the path it writes:
    // while the batch's persisted frames read hash-index/deltas, the
    // signature append after the hash-index append recomputed the whole
    // batch (this batch then took 164 jobs; 70 once nothing the batch
    // still reads names that path, with no isEmpty pre-checks and a
    // one-aggregate funnel)
    val dir = SharedSpark.tempDir("spipe-jobs")
    StreamingPipeline.processBatch(spark, df(1L, 2L, 3L), 0L, dir, p)
    val (_, jobs) = org.apache.spark.graftbridge.JobLog.record(spark.sparkContext) {
      StreamingPipeline.processBatch(spark, df(10L, 11L, 12L, 13L), 1L, dir, p)
    }
    assert(keptIds(dir) == Set(1L, 2L, 12L))
    assert(jobs.size <= 70, s"batch 1 launched ${jobs.size} Spark jobs")
  }

  test("fuzz: batched keep-first equals an independent sequential fold") {
    // differential oracle: collect every doc's minhash signature ONCE
    // (the shared similarity kernel), then fold the batches in plain
    // Scala implementing the documented semantics — candidate iff a
    // shared LSH band AND signature agreement >= minJaccardEst; DROP iff
    // additionally the exact n-gram Jaccard (distinct trigram word
    // shingles, whole-text fallback under 3 words — TextOps.shingles
    // semantics) >= jaccardThreshold, against prior-kept or a smaller-id
    // doc of the same batch after exact dedup. Everything else (index
    // probes, rerank joins, replay layout) is what the fuzz exercises.
    // threshold 0.7: one-word edits of these 24-word docs sit at true
    // J 0.76-0.91, so the fuzz exercises drops; the 0.8 default would
    // keep them all and the near-dup path would go untested here.
    val pf = StreamingPipeline.Params(jaccardThreshold = 0.7)
    val perms = 32; val bands = 16; val rpb = perms / bands
    for (seed <- Seq(11, 42, 97)) {
      val rng = new scala.util.Random(seed)
      def w(i: Int) = "w" + ('a' + i / 676 % 26).toChar +
        ('a' + i / 26 % 26).toChar + ('a' + i % 26).toChar
      // 8 disjoint 24-word families; per family: a base doc, maybe an
      // exact copy, maybe 1-2 one-word edits, plus some unique docs
      val texts = scala.collection.mutable.ArrayBuffer[String]()
      for (f <- 0 until 8) {
        val words = (0 until 24).map(i => w(f * 30 + i))
        val base = words.mkString(" ")
        texts += base
        if (rng.nextBoolean()) texts += base
        for (v <- 0 until rng.nextInt(3))
          texts += words.updated(rng.nextInt(24), w(f * 30 + 25 + v))
            .mkString(" ")
      }
      val docs = texts.zipWithIndex.map { case (t, i) => (i + 1L, t, "s") }
      val ids = rng.shuffle(docs.map(_._1).toList)
      val batches = ids.grouped(math.max(1, ids.size / 3 + 1)).toSeq

      // signature kernel, computed once via the production expressions
      val sigMap = docs.toSeq.toDF("doc_id", "text", "source")
        .select(col("doc_id"), graft.ops.Dedup.minhashSignature(
          graft.ops.TextOps.shingles(col("text"), 3), perms).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      val textMap = docs.map(d => d._1 -> d._2).toMap
      def cand(a: Long, b: Long): Boolean = {
        val (x, y) = (sigMap(a), sigMap(b))
        val shareBand = (0 until bands).exists(bd =>
          (0 until rpb).forall(k => x(bd * rpb + k) == y(bd * rpb + k)))
        val estOk = shareBand &&
          (0 until perms).count(p => x(p) == y(p)) / perms.toDouble >= pf.minJaccardEst
        estOk && {
          val (sa, sb) = (shingleSet(textMap(a)), shingleSet(textMap(b)))
          sa.intersect(sb).size.toDouble / sa.union(sb).size >= pf.jaccardThreshold
        }
      }

      // independent sequential fold
      var kept = Vector.empty[Long]
      val oracleStage = scala.collection.mutable.Map[Long, String]()
      for (batch <- batches) {
        val sorted = batch.sorted
        var afterExact = Vector.empty[Long]
        for (i <- sorted) {
          val dupPrior = kept.exists(j => textMap(j) == textMap(i))
          val dupWithin = sorted.exists(j => j < i && textMap(j) == textMap(i))
          if (dupPrior || dupWithin) oracleStage(i) = "exact_dup"
          else afterExact :+= i
        }
        var keptBatch = Vector.empty[Long]
        for (i <- afterExact) {
          val nearPrior = kept.exists(j => cand(i, j))
          val nearWithin = afterExact.exists(j => j < i && cand(i, j))
          if (nearPrior || nearWithin) oracleStage(i) = "near_dup"
          else keptBatch :+= i
        }
        kept ++= keptBatch
      }

      // the system under test
      val dir = SharedSpark.tempDir(s"spipe-fuzz$seed")
      batches.zipWithIndex.foreach { case (batch, b) =>
        val bdf = docs.filter(d => batch.contains(d._1)).toSeq
          .toDF("doc_id", "text", "source")
        StreamingPipeline.processBatch(spark, bdf, b.toLong, dir, pf)
      }
      assert(keptIds(dir) == kept.toSet, s"seed $seed kept mismatch")
      assert(rejectStages(dir) == oracleStage.toMap, s"seed $seed stages mismatch")
    }
  }

  test("estimator false positive KEPT after rerank; stream kept set == batch Pipeline kept set") {
    // round-4 VERDICT #1: the estimator-only drop silently lost docs the
    // batch pipeline keeps. Plant the exact failure shape: a pair whose
    // minhash agreement clears the OLD 0.5 drop bar while its true
    // n-gram Jaccard sits below the 0.8 rerank threshold (two scattered
    // one-word edits of a 32-word doc: 6 of 30 trigrams change,
    // J = 24/36 ~ 0.667; the unbiased agreement estimate concentrates
    // near 0.667). Pre-round-5 code drops doc 2; reranked code keeps it.
    val fpDoc = edit(edit(famA, "alphaae", "xray"), "alphaba", "whiskey")
    val famB = fam("bravo")
    val corpus = Seq(
      (1L, famA, "web"),
      (2L, fpDoc, "web"),                       // estimator FP -> KEEP
      (3L, famB, "web"),
      (4L, edit(famB, "bravoaq", "zulu"), "web")) // true near-dup of 3 -> DROP

    // precondition: the planted pair really is an estimator false
    // positive (candidate at the 0.2 prefilter, >= 0.5 agreement — the
    // old drop bar — yet true Jaccard under the 0.8 drop threshold)
    val perms = 32; val bands = 16; val rpb = perms / bands
    val sigs = corpus.toDF("doc_id", "text", "source")
      .select(col("doc_id"), graft.ops.Dedup.minhashSignature(
        graft.ops.TextOps.shingles(col("text"), 3), perms).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = (0 until perms).count(i => sigs(1L)(i) == sigs(2L)(i)) / perms.toDouble
    val shareBand = (0 until bands).exists(bd =>
      (0 until rpb).forall(k => sigs(1L)(bd * rpb + k) == sigs(2L)(bd * rpb + k)))
    assert(shareBand && agree >= 0.5,
      s"planted pair must be a candidate clearing the old bar (agree $agree)")
    assert(trueJaccard(famA, fpDoc) < p.jaccardThreshold,
      s"planted pair must fail the rerank (J ${trueJaccard(famA, fpDoc)})")

    // streaming, id-ordered batches (keep-first == keep-min-id then)
    val dir = SharedSpark.tempDir("spipe-fp")
    val cdf = corpus.toDF("doc_id", "text", "source")
    StreamingPipeline.processBatch(spark, cdf.filter(col("doc_id") <= 2), 0L, dir, p)
    StreamingPipeline.processBatch(spark, cdf.filter(col("doc_id") > 2), 1L, dir, p)
    assert(keptIds(dir) == Set(1L, 2L, 3L))
    assert(rejectStages(dir) == Map(4L -> "near_dup"))

    // batch twin: graft.ops.Pipeline with its default thresholds (same
    // 0.2 mining prefilter, same 0.8 rerank) must keep the SAME set on
    // this chain-free corpus
    val res = graft.ops.Pipeline.run(cdf)
    val batchKept = res.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    res.unpersist()
    assert(batchKept == keptIds(dir), "stream kept set diverges from batch Pipeline")

    // pushdown-overflow fallback parity: with the cap at 0 every rerank
    // takes the full-scan semi-join branch instead of the pushed In
    // filter — identical decisions either way
    val dirFb = SharedSpark.tempDir("spipe-fp-fb")
    val pFb = p.copy(maxRerankPushdownIds = 0)
    StreamingPipeline.processBatch(spark, cdf.filter(col("doc_id") <= 2), 0L, dirFb, pFb)
    StreamingPipeline.processBatch(spark, cdf.filter(col("doc_id") > 2), 1L, dirFb, pFb)
    assert(keptIds(dirFb) == keptIds(dir))
    assert(rejectStages(dirFb) == rejectStages(dir))
  }

  test("index compaction: bounded deltas, identical decisions, crash-safe replay") {
    // 8 id-ordered batches; batches 4..7 plant an exact dup and a near
    // dup of a doc kept FOUR batches earlier — with maxIndexDeltas = 2
    // those early deltas have been folded into the compacted base by
    // then, so the drops prove base+delta probes see everything
    val prefixes = Seq("alpha", "bravo", "carol", "delta",
      "erwin", "fotox", "golfy", "hotel")
    def batchDocs(i: Int): Seq[(Long, String, String)] = {
      val base = Seq((10L * i + 1, fam(prefixes(i)), "web"))
      if (i < 4) base
      else base ++ Seq(
        (10L * i + 2, fam(prefixes(i - 4)), "web"),                        // exact dup
        (10L * i + 3, edit(fam(prefixes(i - 4)), prefixes(i - 4) + "aq", "zulu"), "web")) // near dup
    }
    def run(params: StreamingPipeline.Params): String = {
      val dir = SharedSpark.tempDir("spipe-compact")
      (0 until 8).foreach { i =>
        StreamingPipeline.processBatch(spark,
          batchDocs(i).toDF("doc_id", "text", "source"), i.toLong, dir, params)
      }
      dir
    }
    val compacted = run(p.copy(maxIndexDeltas = 2))
    val flat = run(p) // default 16: never folds in 8 batches

    // identical decisions with and without compaction
    assert(keptIds(compacted) == keptIds(flat))
    assert(rejectStages(compacted) == rejectStages(flat))
    assert(keptIds(compacted) == (0 until 8).map(i => 10L * i + 1).toSet)
    (4 until 8).foreach { i =>
      assert(rejectStages(compacted)(10L * i + 2) == "exact_dup")
      assert(rejectStages(compacted)(10L * i + 3) == "near_dup")
    }

    // listing growth is bounded: at most maxIndexDeltas + 1 delta dirs
    // survive any batch, and a compacted base generation exists
    def deltaDirs(root: String): Int = {
      val d = new java.io.File(s"$root/deltas")
      if (!d.exists) 0 else d.listFiles.count(_.getName.startsWith("batch_id="))
    }
    def hasCommittedBase(root: String): Boolean = {
      val b = new java.io.File(s"$root/base")
      b.exists && b.listFiles.exists(d =>
        d.getName.startsWith("gen-") &&
          new java.io.File(d, "_GRAFT_COMMITTED").exists)
    }
    for (idx <- Seq(StreamingPipeline.hashIndexPath(compacted),
        StreamingPipeline.sigIndexPath(compacted))) {
      // bound is ~2x the fold threshold: just-folded deltas are retained
      // one grace cycle for concurrent external readers of the old
      // watermark (CompactedIndex retention doc)
      assert(deltaDirs(idx) <= 6, s"deltas unbounded at $idx: ${deltaDirs(idx)}")
      assert(hasCommittedBase(idx), s"no committed base at $idx")
    }
    assert(deltaDirs(StreamingPipeline.sigIndexPath(flat)) == 8) // the old growth, for contrast

    // full index contents agree across layouts
    assert(CompactedIndex.contents(spark, StreamingPipeline.hashIndexPath(compacted)).get
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      CompactedIndex.contents(spark, StreamingPipeline.hashIndexPath(flat)).get
        .select("doc_id").collect().map(_.getLong(0)).toSet)

    // crash mid-compaction model: a generation written but never
    // COMMITTED (no _GRAFT_COMMITTED marker) is an invisible orphan
    // (gen-7 here — the id a compaction crashing during batch 7 would
    // leave; gen-6 stays the live committed generation) — replaying the
    // last batch on top of it must leave every decision unchanged
    val orphan = new java.io.File(
      s"${StreamingPipeline.sigIndexPath(compacted)}/base/gen-7/part-orphan")
    orphan.getParentFile.mkdirs()
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val (keptBefore, stagesBefore) = (keptIds(compacted), rejectStages(compacted))
    StreamingPipeline.processBatch(spark,
      batchDocs(7).toDF("doc_id", "text", "source"), 7L, compacted, p.copy(maxIndexDeltas = 2))
    assert(keptIds(compacted) == keptBefore)
    assert(rejectStages(compacted) == stagesBefore)
  }

  test("streaming wiring: AvailableNow over a growing directory, checkpoint resumes") {
    val in = SharedSpark.tempDir("spipe-in")
    val state = SharedSpark.tempDir("spipe-state")
    df(1L, 2L, 3L).repartition(1).write.parquet(s"$in/f0")
    // the file source wants a flat dir of files; write then move parquet parts
    val q1 = StreamingPipeline.start(spark, s"$in/f0", state, p)
    q1.awaitTermination()
    assert(keptIds(state) == Set(1L, 2L))
    df(10L, 11L, 12L, 13L).repartition(1).write.parquet(s"$in/f1")
    // same checkpoint, new source glob is not allowed — drive the second
    // increment through processBatch (what a scheduled AvailableNow run
    // over a growing flat dir does per batch)
    StreamingPipeline.processBatch(spark, df(10L, 11L, 12L, 13L), 1L, state, p)
    assert(keptIds(state) == Set(1L, 2L, 12L))
  }

  test("funnel: complete zero-filled per-batch grid, NULL-safe sources, totals == batch Pipeline funnel") {
    val dir = SharedSpark.tempDir("spipe-funnel")
    // shared fixture plus one NULL-source survivor — the grid must carry
    // it with real counts at every stage (the batch funnel's <=> lesson)
    val extra = Seq((20L, fam("golf"), null.asInstanceOf[String]))
    val all = (docs ++ extra).toDF("doc_id", "text", "source")
    StreamingPipeline.processBatch(spark,
      (docs.take(4) ++ extra).toDF("doc_id", "text", "source"), 0L, dir, p)
    StreamingPipeline.processBatch(spark,
      docs.drop(4).toDF("doc_id", "text", "source"), 1L, dir, p)

    val rows = StreamingPipeline.funnel(spark, dir).collect()
      .map(r => (r.getAs[Number]("batch_id").longValue(),
        Option(r.getAs[String]("source")),
        r.getAs[String]("stage"), r.getAs[Long]("n_docs")))
    // batch 0 sources {web, NULL} x 4 stages; batch 1 {web, books} x 4
    assert(rows.count(_._1 == 0L) == 8, rows.filter(_._1 == 0L).mkString(","))
    assert(rows.count(_._1 == 1L) == 8, rows.filter(_._1 == 1L).mkString(","))
    val b0 = rows.filter(_._1 == 0L)
      .map(r => (r._2, r._3) -> r._4).toMap
    // batch 0 (docs 1,2,3,10 web + 20 NULL): 3 fails quality, 10 near-dups 1
    assert(b0((Some("web"), "input")) == 4)
    assert(b0((Some("web"), "scrubbed")) == 3)
    assert(b0((Some("web"), "exact_dedup")) == 3)
    assert(b0((Some("web"), "near_dedup")) == 2)
    assert(b0((None, "input")) == 1 && b0((None, "near_dedup")) == 1,
      "NULL-source rows must carry real counts, not zeros")

    // lifetime totals == the batch Pipeline's funnel on the shared stages
    val res = graft.ops.Pipeline.run(all)
    val batchF = graft.ops.Pipeline.sourceFunnel(res).collect()
      .map(r => (Option(r.getAs[String]("source")), r.getAs[String]("stage")) ->
        r.getAs[Long]("n_docs")).toMap
    res.unpersist()
    val streamT = StreamingPipeline.funnelTotals(spark, dir).collect()
      .map(r => (Option(r.getAs[String]("source")), r.getAs[String]("stage")) ->
        r.getAs[Long]("n_docs")).toMap
    for (stage <- Seq("scrubbed", "exact_dedup", "near_dedup");
         src <- Seq(Some("web"), Some("books"), None)) {
      assert(streamT.getOrElse((src, stage), 0L) ==
        batchF.getOrElse((src, stage), 0L),
        s"funnel parity broke at ($src, $stage): " +
          s"stream=${streamT.get((src, stage))} batch=${batchF.get((src, stage))}")
    }
    // input accounts for every document exactly once
    assert(streamT.collect { case ((_, "input"), n) => n }.sum == all.count())

    // replaying a batch (crash-and-retry) leaves the funnel unchanged
    StreamingPipeline.processBatch(spark,
      docs.drop(4).toDF("doc_id", "text", "source"), 1L, dir, p)
    val streamT2 = StreamingPipeline.funnelTotals(spark, dir).collect()
      .map(r => (Option(r.getAs[String]("source")), r.getAs[String]("stage")) ->
        r.getAs[Long]("n_docs")).toMap
    assert(streamT2 == streamT, "funnel must be replay-idempotent")
  }
}
