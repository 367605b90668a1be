package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class OpsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // small corpus with planted exact + near duplicates
  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
  lazy val corpus = Seq(
    (0L, base),
    (1L, base),                                        // exact dup of 0
    (2L, base.replace("lazy", "sleepy")),              // near dup of 0
    (3L, "el perro grande de la casa que corre en los campos verdes todo el dia"),
    (4L, "le chat noir est dans les jardins des maisons et une souris est la"),
    (5L, "der hund und die katze sind das beste was es gibt und der rest ist egal"),
    (6L, "completely different content about spark query engines and column stores here"),
    (7L, "the cat and the dog of the house is to be found and the rest is to go")
  ).toDF("id", "text")

  test("exact dedup finds the planted duplicate group") {
    val groups = Dedup.exactGroups(corpus, col("text"), col("id")).value.collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n") == 2)
    assert(groups(0).getAs[Long]("keep_id") == 0L)
    val kept = Dedup.dropExactDuplicates(corpus, "text", "id").value
    assert(kept.count() == 7)
    assert(kept.filter(col("id") === 1).isEmpty)
  }

  test("dropExactDuplicates survives an input that already has a __id column") {
    import spark.implicits._
    // the internal narrow projection uses __h/__id names — a caller
    // carrying them must not make the anti-join ambiguous
    val corpus = Seq((1L, "same", 9L), (2L, "same", 8L), (3L, "other", 7L))
      .toDF("id", "text", "__id")
    val kept = Dedup.dropExactDuplicates(corpus, "text", "id").value
    assert(kept.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(kept.columns.toSeq == Seq("id", "text", "__id"))
  }

  test("exactGroups bounds all_ids at maxIds while n stays the exact group size") {
    val docs = (1L to 50L).map(i => (i, "the very same text")).toDF("doc_id", "text")
    val g = Dedup.exactGroups(docs, col("text"), col("doc_id"), maxIds = 8)
      .value.collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n") == 50L) // exact count survives the cap
    assert(g(0).getAs[Long]("keep_id") == 1L)
    assert(g(0).getAs[scala.collection.Seq[Long]]("all_ids") == (1L to 8L)) // smallest maxIds ids, ascending
    // the id sample is pruned map-side (partial WindowGroupLimit), so a
    // 1e8-copy boilerplate group never materializes in one buffer. The
    // plan check needs a relation whose row count is NOT statically <=
    // the limit (the optimizer rightly skips the rewrite there), hence
    // range() rather than the 50-row local relation above.
    // text must be non-constant-foldable (a literal's hash folds away and
    // the window loses its partition spec) yet identical across rows
    val big = spark.range(0, 100000)
      .select(col("id").as("doc_id"),
        substring(concat(lit("same text"), col("id").cast("string")), 1, 9).as("text"))
    val p = Dedup.exactGroups(big, col("text"), col("doc_id"))
      .value.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
  }

  test("minhash LSH surfaces the near-duplicate pair and not unrelated docs") {
    val cands = Dedup.minhashCandidates(corpus, "text", "id", minJaccard = 0.4)
      .value.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cands.contains((0L, 1L)), s"exact pair missing: $cands")
    assert(cands((0L, 1L)) == 1.0)
    assert(cands.contains((0L, 2L)) || cands.contains((1L, 2L)),
      s"near pair missing: $cands")
    assert(!cands.keys.exists { case (a, b) => Set(a, b).contains(6L) },
      s"unrelated doc joined a pair: $cands")
  }

  test("ngram Jaccard rerank: exact dup = 1.0, near dup high, reranks candidates") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 6L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(corpus, pairs, "text", "id")
      .value.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 2L)) > 0.5)
    assert(j((0L, 6L)) < 0.1)
  }

  test("simhash: near dups within few bits, unrelated docs far") {
    val sigs = corpus.select(col("id"),
      SimHash64.simhash(TextOps.shingles(col("text"), 3)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) == 0)
    assert(ham(sigs(0L), sigs(2L)) <= 16)
    assert(ham(sigs(0L), sigs(6L)) > 16)
  }

  test("simhash rotation blocking finds every pair within hamming <= blocks-1, wherever the bits differ") {
    val cands = Dedup.simhashCandidates(corpus, "text", "id", maxHamming = 6)
      .value.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // brute-force truth over the collected signatures
    val sigs = corpus.select(col("id"),
      SimHash64.simhash(TextOps.shingles(col("text"), 3)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 6
    } yield (ia, ib) -> h).toMap
    // pigeonhole guarantee: hamming <= 3 pairs MUST be candidates; on this
    // corpus the planted pairs (hamming 0 and <= 6) are all found too
    assert(truth.keySet == cands.keySet, s"truth=$truth cands=$cands")
    truth.foreach { case (p, h) => assert(cands(p) == h) }
    assert(cands.contains((0L, 1L)) && cands((0L, 1L)) == 0)
  }

  test("embedding near-dup multi-table LSH: recall >= 0.95 on planted cosine-0.9 pairs") {
    // 40 base unit-ish vectors; each gets a planted near-dup at cosine ~0.9
    // (mix with a deterministic orthogonal-ish perturbation)
    val dim = 16
    def baseVec(i: Int): Array[Double] =
      Array.tabulate(dim)(j => math.sin(i * 31 + j * 7 + 1))
    val rows = (0 until 40).flatMap { i =>
      val b = baseVec(i)
      val nb = math.sqrt(b.map(x => x * x).sum)
      val unit = b.map(_ / nb)
      val pert = Array.tabulate(dim)(j => math.cos(i * 17 + j * 13 + 3))
      // remove the parallel component, keep the orthogonal one
      val dotUp = unit.zip(pert).map { case (u, p) => u * p }.sum
      val orth = pert.zipWithIndex.map { case (p, j) => p - dotUp * unit(j) }
      val no = math.sqrt(orth.map(x => x * x).sum)
      // v2 = cos(theta) u + sin(theta) orth_unit with cos(theta) = 0.92
      val c = 0.92; val s = math.sqrt(1 - c * c)
      val v2 = unit.zipWithIndex.map { case (u, j) => c * u + s * orth(j) / no }
      Seq((2L * i, unit.map(_.toFloat).toSeq), (2L * i + 1, v2.map(_.toFloat).toSeq))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDups(vecs, "embedding", "vec_id",
        threshold = 0.9, planes = 8, tables = 16)
      .value.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 40).map(i => (2L * i, 2L * i + 1)).toSet
    val recall = (planted & found).size.toDouble / planted.size
    assert(recall >= 0.95, s"recall $recall; missed ${planted -- found}")
    // and everything reported truly clears the threshold (exact rerank)
    val exact = Dedup.embeddingNearDups(vecs, "embedding", "vec_id",
        threshold = 0.9, planes = 8, tables = 16)
      .value.collect().map(_.getDouble(2))
    exact.foreach(c => assert(c >= 0.9))
  }

  test("bucketedKnn multi-table blocking: recall >= 0.9 vs brute-force top-k") {
    // same planted construction as the near-dup test: 40 (unit, cosine-0.92
    // partner) pairs — each id's true nearest neighbor is its partner
    val dim = 16
    def baseVec(i: Int): Array[Double] =
      Array.tabulate(dim)(j => math.sin(i * 31 + j * 7 + 1))
    val rows = (0 until 40).flatMap { i =>
      val b = baseVec(i)
      val nb = math.sqrt(b.map(x => x * x).sum)
      val unit = b.map(_ / nb)
      val pert = Array.tabulate(dim)(j => math.cos(i * 17 + j * 13 + 3))
      val dotUp = unit.zip(pert).map { case (u, p) => u * p }.sum
      val orth = pert.zipWithIndex.map { case (p, j) => p - dotUp * unit(j) }
      val no = math.sqrt(orth.map(x => x * x).sum)
      val c = 0.92; val s = math.sqrt(1 - c * c)
      val v2 = unit.zipWithIndex.map { case (u, j) => c * u + s * orth(j) / no }
      Seq((2L * i, unit.map(_.toFloat).toSeq), (2L * i + 1, v2.map(_.toFloat).toSeq))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val neighbors = Similarity.bucketedKnn(vecs, "embedding", "vec_id",
        k = 3, planes = 8, tables = 16)
      .value.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: brute-force top-3 per id (cosine desc, id asc — the
    // op's own tie-break); the planted partner is only ONE of the true
    // neighbors, the sinusoid base vectors correlate across ids too
    val byId = rows.toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val trueTop = byId.keys.flatMap { id =>
      byId.keys.filter(_ != id).toSeq
        .map(o => (o, cos(byId(id), byId(o))))
        .sortBy { case (o, c) => (-c, o) }.take(3)
        .map { case (o, _) => (id, o) }
    }.toSet
    val recall = (trueTop & neighbors).size.toDouble / trueTop.size
    assert(recall >= 0.9, s"recall $recall vs brute-force top-3")
  }

  test("every operator's Cached handle pins its tables until close(), then releases them") {
    import org.apache.spark.storage.StorageLevel
    val vecs = (0 until 12).map(i =>
        (i.toLong, Seq.tabulate(4)(j => math.sin(i * 3 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val withSource = corpus.withColumn("source",
      concat(lit("s"), (col("id") % 3).cast("string")))
    val idx = SharedSpark.tempDir("handles") + "/idx"
    IncrementalDedup.writeIndex(corpus.filter(col("id") < 4), "text", "id", idx)
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val handles: Seq[(String, () => Cached[org.apache.spark.sql.DataFrame])] = Seq(
      "exactGroups" -> (() => Dedup.exactGroups(corpus, col("text"), col("id"))),
      "dropExactDuplicates" -> (() => Dedup.dropExactDuplicates(corpus, "text", "id")),
      "minhashCandidates" -> (() => Dedup.minhashCandidates(corpus, "text", "id")),
      "simhashCandidates" -> (() => Dedup.simhashCandidates(corpus, "text", "id")),
      "ngramJaccard" -> (() => Dedup.ngramJaccard(corpus, pairs, "text", "id")),
      "embeddingNearDups" -> (() =>
        Dedup.embeddingNearDups(vecs, "embedding", "vec_id", planes = 2, tables = 2)),
      "bucketedKnn" -> (() =>
        Similarity.bucketedKnn(vecs, "embedding", "vec_id", k = 2, planes = 2, tables = 2)),
      "newDocCandidates" -> (() => IncrementalDedup.newDocCandidates(spark,
        corpus.filter(col("id") >= 4), "text", "id", idx)),
      "overlapMatrix" -> (() => SourceOverlap.overlapMatrix(withSource, "text", "source")),
      "dupSpans" -> (() => DupSpans.dupSpans(corpus, "text", "id", windowWords = 4)),
      "dupSpansKeepFirst" -> (() =>
        DupSpans.dupSpansKeepFirst(corpus, "text", "id", windowWords = 4)),
      // the default maxShingleDf pins nothing; a finite cap persists the
      // train shingle rows
      "containmentPairs" -> (() => Decontamination.containmentPairs(
        corpus.filter(col("id") =!= 1), corpus.filter(col("id") === 1),
        "text", "id", maxShingleDf = 10)))
    assert(handles.size == 12)
    // one at a time: two operators over the same input persist equal
    // plans, which the cache stores once
    for ((name, mine) <- handles) {
      val h = mine()
      h.value.count()
      assert(h.handles.nonEmpty, s"$name pinned nothing")
      h.handles.foreach(f => assert(f.storageLevel != StorageLevel.NONE,
        s"$name: a pinned table is not cached before close()"))
      h.close()
      h.handles.foreach(f => assert(f.storageLevel == StorageLevel.NONE,
        s"$name: a pinned table is still cached after close()"))
    }
  }

  test("lshTopK multi-probe widens recall monotonically and never fabricates rows") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 13 + j * 5).toFloat))
    }.toDF("vec_id", "embedding")
    val query = Seq.tabulate(8)(j => math.sin(3 * 13 + j * 5).toFloat) // = vec 3
    val brute = Similarity.bruteTopK(vecs, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val recalls = Seq(0, 2, 8).map { m =>
      val got = Similarity.lshTopK(vecs, "embedding", "vec_id", query, 10,
        planes = 8, multiProbe = m).collect().map(_.getLong(0)).toSet
      assert(got.size <= 10)
      (brute & got).size
    }
    assert(recalls == recalls.sorted, s"non-monotone recalls $recalls")
    // probing all 2^planes buckets (multiProbe = planes) IS brute force
    assert(recalls.last == 10)
    val full = Similarity.lshTopK(vecs, "embedding", "vec_id", query, 10,
      planes = 8, multiProbe = 8).collect().map(_.getLong(0)).toSet
    assert(full == brute)
  }

  test("language ID classifies stopword-bearing text deterministically") {
    val preds = corpus.select(col("id"), TextOps.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(0L) == "en")
    assert(preds(3L) == "es")
    assert(preds(4L) == "fr")
    assert(preds(5L) == "de")
    val zh = Seq((9L, "中文文本处理")).toDF("id", "text")
      .select(TextOps.langId(col("text"))).collect()(0).getString(0)
    assert(zh == "zh")
  }

  test("brute-force top-k is exact and LSH top-k returns a subset consistent with it") {
    val vecs = (0 until 50).map { i =>
      val angle = i * 0.12
      (i.toLong, Seq(math.cos(angle).toFloat, math.sin(angle).toFloat, 0.1f, 0.2f))
    }.toDF("vec_id", "embedding")
    val query = Seq(1.0f, 0.05f, 0.1f, 0.2f)
    val brute = Similarity.bruteTopK(vecs, "embedding", "vec_id", query, 5)
      .collect().map(_.getLong(0))
    assert(brute.length == 5)
    // cosine of vec 0 (angle 0) with query is near max; ordering deterministic
    assert(brute.contains(0L))
    val lsh = Similarity.lshTopK(vecs, "embedding", "vec_id", query, 5, planes = 4)
      .collect().map(_.getLong(0))
    // every LSH hit must be a genuine vector, ranked by true cosine
    assert(lsh.toSet.subsetOf(vecs.collect().map(_.getLong(0)).toSet))
  }

  test("Split: near-dup pair members always land on the same side; singletons self-represent") {
    // pairs: {0,1,2} form one cluster (chain 0-1, 1-2); {5,6} another;
    // 3, 4 are singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = (0L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val split = Split.leakFreeSplit(docs, "doc_id", pairs, valPermille = 500)
      .select("doc_id", "split_rep", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // cluster representatives are component minima; singletons are themselves
    assert(Seq(0L, 1L, 2L).map(split(_)._1).distinct == Seq(0L))
    assert(Seq(5L, 6L).map(split(_)._1).distinct == Seq(5L))
    assert(split(3L)._1 == 3L && split(4L)._1 == 4L)
    // the leakage guarantee: same rep -> same side, for every pair
    assert(Seq(0L, 1L, 2L).map(split(_)._2).distinct.size == 1)
    assert(Seq(5L, 6L).map(split(_)._2).distinct.size == 1)
    // deterministic across invocations
    val again = Split.leakFreeSplit(docs, "doc_id", pairs, valPermille = 500)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((0L to 6L).forall(i => again(i) == split(i)._2))
    // valPermille edges: 0 -> all train, 1000 -> all val
    assert(Split.leakFreeSplit(docs, "doc_id", pairs, 0)
      .filter(col("split") === "val").isEmpty)
    assert(Split.leakFreeSplit(docs, "doc_id", pairs, 1000)
      .filter(col("split") === "train").isEmpty)
    // multiplicative key matches a Scala replica of the oracle arithmetic
    val mk = Split.leakFreeSplit(docs, "doc_id", pairs, 200,
        key = Split.multiplicativeKey)
      .select("doc_id", "split_rep", "split").collect()
    mk.foreach { r =>
      val expect = if ((r.getLong(1) * 2654435761L) % 1000L < 200L) "val" else "train"
      assert(r.getString(2) == expect, s"doc ${r.getLong(0)}")
    }
  }

  test("Split fuzz: leakage guarantee holds on random pair graphs") {
    val rnd = new scala.util.Random(4242)
    for (round <- 0 until 5) {
      val nDocs = 40 + rnd.nextInt(60)
      val nPairs = rnd.nextInt(50)
      val pairSeq = Seq.fill(nPairs) {
        (rnd.nextInt(nDocs).toLong, rnd.nextInt(nDocs).toLong)
      }.filter { case (a, b) => a != b }
      val docs = (0L until nDocs.toLong).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val pairs = (if (pairSeq.isEmpty) Seq((0L, 0L)) else pairSeq) // self-pair: no edge
        .toDF("id_a", "id_b")
      val split = Split.leakFreeSplit(docs, "doc_id", pairs,
          valPermille = 100 + rnd.nextInt(800))
        .select("doc_id", "split_rep", "split").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(split.size == nDocs, s"round $round: every doc assigned exactly once")
      // the property the op exists for: every pair lands on one side
      pairSeq.foreach { case (a, b) =>
        assert(split(a)._2 == split(b)._2,
          s"round $round: pair ($a,$b) straddles the split")
        assert(split(a)._1 == split(b)._1,
          s"round $round: pair ($a,$b) has different representatives")
      }
      // representatives are component minima: rep <= id, and rep's own rep
      // is itself (idempotent)
      split.foreach { case (id, (rep, _)) =>
        assert(rep <= id, s"round $round: rep $rep above $id")
        assert(split(rep)._1 == rep, s"round $round: rep $rep not idempotent")
      }
    }
  }

  test("SourceMix: exact thresholds, sqrt-temperature shares, saturation, determinism") {
    // hand-checked integer math: n = (100, 400), w = (10000, 20000),
    // sumw = 30000, target = 150 ->
    //   thr_a = 1e6*150*10000 / (30000*100)  = 500000  (expect ~50 kept)
    //   thr_b = 1e6*150*20000 / (30000*400)  = 250000  (expect ~100 kept)
    assert(SourceMix.thresholds(Seq("a" -> 100L, "b" -> 400L), 150L) ==
      Seq("a" -> 500000L, "b" -> 250000L))
    // saturation: a source whose temperature share exceeds its population
    // caps at M (keep everything) — one-pass, no redistribution
    val sat = SourceMix.thresholds(Seq("tiny" -> 4L, "big" -> 10000L), 5000L)
    assert(sat.toMap.apply("tiny") == SourceMix.M)

    val docs = (0L until 500L).map { i =>
      (i, if (i < 100) "a" else "b")
    }.toDF("doc_id", "src")
    val kept = SourceMix.temperatureSample(docs, "doc_id", "src", 150L)
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected (50, 100) under a uniform key; the default xxhash64 key is
    // hash-uniform, allow generous slack
    assert(math.abs(bySrc("a") - 50L) <= 25, s"a kept ${bySrc("a")}")
    assert(math.abs(bySrc("b") - 100L) <= 35, s"b kept ${bySrc("b")}")
    // deterministic: the kept SET is a pure function of the input
    val again = SourceMix.temperatureSample(docs, "doc_id", "src", 150L)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)

    // the multiplicative (oracle-replicable) key matches an independent
    // Scala replica of the arithmetic the DuckDB oracle runs
    val keyKept = SourceMix.temperatureSample(docs, "doc_id", "src", 150L,
        Some(SourceMix.multiplicativeKey(col("doc_id"))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val thr = SourceMix.thresholds(Seq("a" -> 100L, "b" -> 400L), 150L).toMap
    val replica = (0L until 500L).filter { i =>
      val t = if (i < 100) thr("a") else thr("b")
      (i * 2654435761L) % 1000000L < t
    }.toSet
    assert(keyKept == replica)

    // output schema preserves the INPUT column order (the threshold join
    // would otherwise move src to position 0)
    assert(kept.columns.toSeq == docs.columns.toSeq)
    // all-NULL-source corpus: the NULL contract (no recipe bucket -> not
    // sampled) applies even when the source catalog comes back empty
    val allNull = docs.withColumn("src", lit(null).cast("string"))
    assert(SourceMix.temperatureSample(allNull, "doc_id", "src", 150L).isEmpty)
  }

  test("zero-norm vectors never RANK in any top-k path (NaN sorts above 1.0 under desc)") {
    // a zero embedding yields cosine NaN (CosineSim's deliberate
    // ANSI-safe answer); Spark sorts NaN greater than every double, so
    // without the rankable() filter it would be the #1 neighbor of every
    // query in every ranking path
    val vecs = ((0 until 20).map { i =>
      val angle = i * 0.3
      (i.toLong, Seq(math.cos(angle).toFloat, math.sin(angle).toFloat))
    } :+ (99L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    val query = Seq(1.0f, 0.0f)

    val brute = Similarity.bruteTopK(vecs, "embedding", "vec_id", query, 5)
      .collect().map(_.getLong(0))
    assert(brute.length == 5 && !brute.contains(99L) && brute.head == 0L)

    val lsh = Similarity.lshTopK(vecs, "embedding", "vec_id", query, 5,
      planes = 4, multiProbe = 4) // full probe: zero vector shares buckets
    assert(!lsh.collect().map(_.getLong(0)).contains(99L))

    val ivf = Ivf.ivfTopK(vecs, "embedding", "vec_id", query, 5,
      nlist = 4, nProbe = 4, seed = 11)
    assert(!ivf.collect().map(_.getLong(0)).contains(99L))

    val knn = Similarity.bucketedKnn(vecs, "embedding", "vec_id", k = 3,
      planes = 2, tables = 4).value
    assert(!knn.select("neighbor_id").collect().map(_.getLong(0)).contains(99L))
  }

  test("IVF: cells group planted clusters; probed top-k has high recall vs brute") {
    // 4 well-separated cluster centers, 40 vectors each, deterministic jitter
    val centers = Seq(
      Seq(10f, 0f, 0f, 0f), Seq(0f, 10f, 0f, 0f),
      Seq(0f, 0f, 10f, 0f), Seq(0f, 0f, 0f, 10f))
    val vecs = (0 until 160).map { i =>
      val c = centers(i % 4)
      val v = c.zipWithIndex.map { case (x, j) =>
        x + (math.sin(i * 13 + j) * 0.5).toFloat }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")

    val index = Ivf.build(vecs, "embedding", "vec_id", nlist = 4,
      refineIters = 3)
    // after Lloyd refinement each planted cluster maps to ONE cell
    val cellsPerCluster = index.assigned
      .groupBy(pmod(col("vec_id"), lit(4)).as("cluster"))
      .agg(countDistinct(col("__cell")).as("ncells")).collect()
    cellsPerCluster.foreach(r => assert(r.getLong(1) == 1L, r.toString))

    val query = Seq(9.5f, 0.3f, -0.2f, 0.1f) // near center 0
    val brute = Similarity.bruteTopK(vecs, "embedding", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    // probing only the single nearest cell already recovers the cluster
    val ivf = Ivf.topK(index, "embedding", "vec_id", query, 10, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall brute=$brute ivf=$ivf")
    // probing all cells must equal brute exactly
    val full = Ivf.topK(index, "embedding", "vec_id", query, 10, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(full == brute)
  }

  test("multimodal plumbing: deterministic features, corrupt channel, batch-shape invariance") {
    val media = Multimodal.synthMedia(spark, 500)
    val a = Multimodal.extractFeatures(media, batchSize = 64).collect()
      .map(r => r.getLong(0) -> r).toMap
    val b = Multimodal.extractFeatures(media, batchSize = 7).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(a.size == 500 && b.size == 500)
    // batch size must not change any output
    a.foreach { case (id, row) =>
      val other = b(id)
      assert(row.getBoolean(3) == other.getBoolean(3))
      assert(row.getInt(2) == other.getInt(2))
      val (fa, fb) = (row.get(4), other.get(4))
      assert((fa == null) == (fb == null))
      if (fa != null)
        assert(fa.asInstanceOf[scala.collection.Seq[Float]].toList ==
          fb.asInstanceOf[scala.collection.Seq[Float]].toList, s"id=$id")
    }
    val corrupt = a.values.filterNot(_.getBoolean(3))
    assert(corrupt.nonEmpty && corrupt.forall(r => r.isNullAt(4)))
  }

  test("ImageIoDecoder decodes REAL PNGs: dimensions, channel means, error channel") {
    import spark.implicits._
    def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val red = png(4, 2)((_, _) => 0xff0000)            // solid red 4x2
    val bw = png(8, 8)((x, _) => if (x < 4) 0 else 0xffffff) // half black/white
    val rows = Seq(
      (1L, "image", red),
      (2L, "image", bw),
      (3L, "image", "definitely not an image".getBytes("UTF-8")), // planted corrupt
      (4L, "image", null),
      (5L, "audio", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)))
    val out = Multimodal.extractFeatures(rows.toDF("media_id", "kind", "bytes"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def feat(id: Long): Seq[Float] =
      out(id).getAs[scala.collection.Seq[Float]]("feature").toSeq

    // solid red: w=4 h=2, meanR exactly 1, G/B 0, Rec.601 luma 0.299,
    // aspect 2, alpha 1 (TYPE_INT_RGB decodes opaque)
    assert(out(1L).getAs[Boolean]("ok"))
    assert(out(1L).getAs[Int]("n_bytes") == red.length)
    assert(feat(1L) == Seq(4f, 2f, 1f, 0f, 0f, 0.299f, 2f, 1f))
    // half black / half white: every channel mean exactly 0.5
    assert(feat(2L) == Seq(8f, 8f, 0.5f, 0.5f, 0.5f, 0.5f, 1f, 1f))
    // undecodable bytes land in the error channel with the payload size
    assert(!out(3L).getAs[Boolean]("ok") && out(3L).isNullAt(4))
    assert(out(3L).getAs[Int]("n_bytes") == 23)
    // absent payload: n_bytes 0
    assert(!out(4L).getAs[Boolean]("ok") && out(4L).getAs[Int]("n_bytes") == 0)
    // audio goes through the REAL javax.sound.sampled parse now: raw
    // bytes are no RIFF/FORM/.snd container -> error channel with the
    // payload length (round-6: the round-5 FakeDecoder routing is gone)
    assert(!out(5L).getAs[Boolean]("ok") && out(5L).isNullAt(4))
    assert(out(5L).getAs[Int]("n_bytes") == 8)

    // decode-bomb guard: a syntactically valid BMP header CLAIMING
    // 65536x65536 (2^32 pixels — a multi-GB raster if ImageIO.read ran)
    // must land in the error channel via the header-first dimension
    // check, never attempt the allocation
    val bomb = new Array[Byte](54)
    bomb(0) = 'B'; bomb(1) = 'M'
    bomb(10) = 54          // pixel data offset
    bomb(14) = 40          // BITMAPINFOHEADER size
    bomb(20) = 1           // width  = 0x00010000 (65536, little-endian)
    bomb(24) = 1           // height = 0x00010000
    bomb(26) = 1           // planes
    bomb(28) = 24          // bits per pixel
    val bombOut = Multimodal.ImageIoDecoder.decode(Seq((9L, "image", bomb))).head
    assert(!bombOut._4 && bombOut._3 == 54 && bombOut._5 == null)
  }

  test("AudioWavDecoder decodes REAL WAVs: exact sample stats, 8/16-bit, error channel, bomb guard") {
    import spark.implicits._
    // 8-bit unsigned mono at 8 kHz: samples are the payload bytes
    val s8 = Array[Byte](0, 127.toByte, 128.toByte, 255.toByte, 64, 192.toByte)
    val wav8 = Multimodal.wavFromBytes(s8, 8000)
    val st8 = Multimodal.AudioWavDecoder.decodeStats(wav8).get
    // centered: -128, -1, 0, 127, -64, 64; clip at 0 and 255
    assert(st8 == Multimodal.AudioWavDecoder.Stats(8000, 1, 8, 6L,
      peak = 128, clip = 2L, sumAbs = 128 + 1 + 0 + 127 + 64 + 64,
      sumSq = 128L * 128 + 1 + 0 + 127L * 127 + 64L * 64 + 64L * 64))
    assert(st8.durationMs == 0L) // 6 * 1000 / 8000 = 0 (integer floor)

    // 16-bit signed little-endian mono: exact extremes + duration math
    val s16 = Array[Short](0, 32767, -32768, 1000, -1000)
    val wav16 = Multimodal.wav16FromSamples(s16, 1000)
    val st16 = Multimodal.AudioWavDecoder.decodeStats(wav16).get
    assert(st16 == Multimodal.AudioWavDecoder.Stats(1000, 1, 16, 5L,
      peak = 32768, clip = 2L, sumAbs = 0L + 32767 + 32768 + 1000 + 1000,
      sumSq = 32767L * 32767 + 32768L * 32768 + 2L * 1000 * 1000))
    assert(st16.durationMs == 5L) // 5 frames at 1 kHz

    // JVM round-trip cross-check: what javax.sound encodes, we decode
    assert(Multimodal.AudioWavDecoder.decodeStats(wav16).isDefined)

    // error channel: text bytes fail the container magic check
    assert(Multimodal.AudioWavDecoder.decodeStats(
      "not audio at all".getBytes("UTF-8")).isEmpty)
    // decode-bomb guard: a RIFF header CLAIMING 2^31 frames of data it
    // does not have must fail header-first, never allocate/loop that far
    val bomb = Multimodal.wavFromBytes(Array[Byte](1, 2, 3), 8000)
    val bb = java.nio.ByteBuffer.wrap(bomb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(40, Int.MaxValue) // data-chunk size field
    assert(Multimodal.AudioWavDecoder.decodeStats(bomb).isEmpty)

    // typed exact surface: the two error-channel flavors + batch shape
    val rows = Seq(
      (1L, "audio", wav8),
      (2L, "audio", "plain text".getBytes("UTF-8")),
      (3L, "audio", null),
      (4L, "video", wav8)) // non-audio kind is an error row here
    val out = Multimodal.extractAudioFeatures(
        rows.toDF("media_id", "kind", "bytes"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("ok") &&
      out(1L).getAs[Long]("n_samples") == 6L &&
      out(1L).getAs[Int]("peak") == 128)
    assert(!out(2L).getAs[Boolean]("ok") &&
      out(2L).getAs[Int]("n_bytes") == 10)
    assert(!out(3L).getAs[Boolean]("ok") &&
      out(3L).getAs[Int]("n_bytes") == 0)
    assert(!out(4L).getAs[Boolean]("ok"))

    // float-lane Decoder contract through the default JdkDecoder routing
    val lanes = Multimodal.JdkDecoder.decode(Seq((9L, "audio", wav8))).head
    assert(lanes._4 && lanes._5.toSeq == Seq(8000f, 1f, 6f, 0f, 128f,
      st8.rms.toFloat, 2f, st8.meanAbs.toFloat))
  }

  test("token counts and ratios agree with simple definitions") {
    val df = Seq(("a bb ccc", 1)).toDF("text", "x")
    val r = df.select(
      TextOps.tokenCountWs(col("text")).as("ws"),
      TextOps.tokenCountBpeIsh(col("text")).as("bpe"),
      TextOps.alphaRatio(col("text")).as("alpha")).collect()(0)
    assert(r.getInt(0) == 3)
    assert(r.getInt(1) == 3)
    assert(math.abs(r.getDouble(2) - 6.0 / 8.0) < 1e-9)
  }

  test("EpochPlan: exact integer plan, both repeat and subsample sides, determinism") {
    // hand-checked: tokens = (10000, 40000) -> w = (100000, 200000),
    // sumW = 300000, budget = 50000 ->
    //   Q_a = 16666 -> base 1, thr = 1e6*6666/10000  = 666600
    //   Q_b = 33333 -> base 0, thr = 1e6*33333/40000 = 833325
    assert(EpochPlan.plan(Seq("a" -> 10000L, "b" -> 40000L), 50000L) ==
      Seq(("a", 1L, 666600L), ("b", 0L, 833325L)))
    // a mistyped budget fails loudly instead of emitting a 1000x corpus
    val boom = intercept[IllegalArgumentException] {
      EpochPlan.plan(Seq("a" -> 10L), budgetTokens = 1000000L)
    }
    assert(boom.getMessage.contains("maxEpochs"))
    // ... unless the caller raises the bound explicitly
    assert(EpochPlan.plan(Seq("a" -> 10L), 1000000L, maxEpochs = 200000L)
      .head._2 == 100000L)

    // 100 docs of 100 tokens in 'a', 400 docs of 100 tokens in 'b'
    val docs = (0L until 500L).map { i =>
      (i, if (i < 100) "a" else "b", 100L)
    }.toDF("doc_id", "src", "n_tok")
    val out = EpochPlan.epochSample(docs, "doc_id", "src", "n_tok", 50000L,
      Some(SourceMix.multiplicativeKey(col("doc_id"))))
    val got = out.select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // independent Scala replica of the oracle arithmetic
    val thr = Map("a" -> (1L, 666600L), "b" -> (0L, 833325L))
    val expect = (0L until 500L).flatMap { i =>
      val (base, t) = thr(if (i < 100) "a" else "b")
      val copies = base + (if ((i * 2654435761L) % 1000000L < t) 1L else 0L)
      (1L to copies).map(e => (i, e))
    }.sorted
    assert(got == expect)
    // epochs are 1-based and contiguous per doc
    val byDoc = got.groupBy(_._1).values
    assert(byDoc.forall(es => es.map(_._2).sorted == (1L to es.size).toSeq))
    // deterministic under the default (xxhash64) key too
    val d1 = EpochPlan.epochSample(docs, "doc_id", "src", "n_tok", 50000L)
      .select("doc_id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val d2 = EpochPlan.epochSample(docs, "doc_id", "src", "n_tok", 50000L)
      .select("doc_id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(d1 == d2)
    // expected token totals track the quotas (uniform key, generous slack):
    // a ~ 16666 tokens = ~166 rows, b ~ 33333 tokens = ~333 rows
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(bySrc("a") - 166L) <= 40, s"a emitted ${bySrc("a")}")
    assert(math.abs(bySrc("b") - 333L) <= 60, s"b emitted ${bySrc("b")}")
    // NULL source rows get no plan row and are absent from the sample
    val withNull = docs.withColumn("src",
      when(col("doc_id") === 0L, lit(null: String)).otherwise(col("src")))
    assert(EpochPlan.epochSample(withNull, "doc_id", "src", "n_tok", 50000L)
      .filter(col("doc_id") === 0L).isEmpty)
    // output schema = input columns in INPUT order + epoch (the plan join
    // would otherwise move src to position 0), on both code paths
    assert(out.columns.toSeq == docs.columns.toSeq :+ "epoch")
    val allNull = docs.withColumn("src", lit(null).cast("string"))
    val empty = EpochPlan.epochSample(allNull, "doc_id", "src", "n_tok", 50000L)
    assert(empty.isEmpty && empty.columns.toSeq == docs.columns.toSeq :+ "epoch")
    // a ZERO-token source has no claim on a token budget: dropped like a
    // NULL source, never a crash (its rows are absent, others planned)
    val withZero = docs.unionByName(
      Seq((900L, "z", 0L), (901L, "z", 0L)).toDF("doc_id", "src", "n_tok"))
    val zeroOut = EpochPlan.epochSample(withZero, "doc_id", "src", "n_tok",
      50000L, Some(SourceMix.multiplicativeKey(col("doc_id"))))
    assert(zeroOut.filter(col("src") === "z").isEmpty)
    assert(zeroOut.select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == expect)
    // a NULL-key row can't take the fractional-copy decision: dropped
    // (SourceMix contract), never silently emitted base_s times
    val nullId = docs.withColumn("doc_id",
      when(col("doc_id") === 5L, lit(null).cast("long"))
        .otherwise(col("doc_id")))
    assert(EpochPlan.epochSample(nullId, "doc_id", "src", "n_tok", 50000L)
      .filter(col("doc_id").isNull).isEmpty)
  }

  test("SourceOverlap: matrix matches a string-set replica; empty intersections absent") {
    // replicate ShingleHashes semantics on strings: distinct word
    // triples, whole text when < 3 words
    def shingleSet(text: String): Set[String] = {
      val w = text.split(" ")
      if (w.length < 3) Set(text)
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val docs = Seq(
      (0L, "A", "the quick brown fox jumps over the lazy dog"),
      (1L, "A", "pad words the quick brown fox leaps high"),
      (2L, "B", "the quick brown fox jumps over a fence"),
      (3L, "B", "two words"),                     // <3-word fallback lane
      (4L, "C", "entirely disjoint vocabulary nothing shared here at all")
    ).toDF("doc_id", "source", "text")
    val got = SourceOverlap.overlapMatrix(docs, "text", "source", shingleK = 3)
      .value.collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

    val sets = Map(
      "A" -> (shingleSet(docs.collect()(0).getString(2)) ++
        shingleSet(docs.collect()(1).getString(2))),
      "B" -> (shingleSet(docs.collect()(2).getString(2)) ++
        shingleSet(docs.collect()(3).getString(2))),
      "C" -> shingleSet(docs.collect()(4).getString(2)))
    for (Seq(a, b) <- Seq("A", "B", "C").combinations(2)) {
      val inter = (sets(a) & sets(b)).size.toLong
      if (inter == 0) assert(!got.contains((a, b)), s"($a,$b) should be absent")
      else {
        val union = (sets(a) | sets(b)).size.toLong
        val (gi, gu, gj) = got((a, b))
        assert(gi == inter && gu == union, s"($a,$b): got ($gi,$gu) want ($inter,$union)")
        assert(math.abs(gj - inter.toDouble / union) < 1e-6)
      }
    }
    // A and B genuinely overlap (shared "the quick brown" run); C shares nothing
    assert(got.contains(("A", "B")) && !got.contains(("A", "C")) &&
      !got.contains(("B", "C")))
  }

  test("TrainOrder: bucketed rank == direct global rank, permutation, determinism, ties") {
    val docs = (0L until 997L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val out = TrainOrder.trainOrder(docs, "doc_id", shards = 8,
        mixKey = Some(SourceMix.multiplicativeKey(col("doc_id"))))
      .select("doc_id", "shard", "ord").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent replica: the DIRECT global rank over (key, id)
    val expect = (0L until 997L)
      .map(i => (i, (i * 2654435761L) % 1000000L))
      .sortBy { case (i, k) => (k, i) }.zipWithIndex
      .map { case ((i, k), ord) => (i, (k * 8L) / 1000000L, ord.toLong) }
      .toSet
    assert(out.toSet == expect)
    // ord is a contiguous 0-based permutation and shards follow the order
    assert(out.map(_._3).sorted.toSeq == (0L until 997L))
    assert(out.sortBy(_._3).map(_._2).toSeq == out.map(_._2).sorted.toSeq)
    // column order: input + shard + ord
    assert(TrainOrder.trainOrder(docs, "doc_id").columns.toSeq ==
      Seq("doc_id", "text", "shard", "ord"))
    // deterministic under the default xxhash64 key
    val d1 = TrainOrder.trainOrder(docs, "doc_id")
      .select("doc_id", "ord").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val d2 = TrainOrder.trainOrder(docs, "doc_id")
      .select("doc_id", "ord").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(d1 == d2)
    // epoch-repeated corpus: key over (id, epoch) + epoch tiebreak is a
    // total order — still a permutation, still deterministic
    val rep = docs.withColumn("epoch", explode(sequence(lit(1L), lit(3L))))
    def orderedRep() = TrainOrder.trainOrder(rep, "doc_id", shards = 8,
        mixKey = Some(pmod(xxhash64(lit(7L), col("doc_id"), col("epoch")),
          lit(TrainOrder.M))),
        tieCols = Seq("epoch"))
      .select("doc_id", "epoch", "ord").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val r1 = orderedRep()
    assert(r1.map(_._3).sorted.toSeq == (0L until 3 * 997L))
    assert(r1.sorted.toSeq == orderedRep().sorted.toSeq)
    // the three epochs of one doc scatter (not back-to-back): doc 0's
    // positions span more than a 3-slot run
    val pos0 = r1.filter(_._1 == 0L).map(_._3)
    assert(pos0.max - pos0.min > 2, s"epochs trained back-to-back: ${pos0.toSeq}")
    // empty input: schema stable
    val empty = TrainOrder.trainOrder(docs.limit(0), "doc_id")
    assert(empty.isEmpty && empty.columns.toSeq ==
      Seq("doc_id", "text", "shard", "ord"))
  }

  test("TrainOrder after SourceMix: the order is NOT the survival key's order (distinct seeds)") {
    // mix-then-order with a SHARED key would sort survivors by the very
    // key that gated survival: each thinned source's rows concentrate at
    // the start of the run in threshold-nested prefixes. The default
    // order seed is distinct, so the mix key must look shuffled when
    // read in training order.
    val docs = (0L until 800L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    val kept = SourceMix.temperatureSample(docs, "doc_id", "src", 300L)
    val inOrder = TrainOrder.trainOrder(kept, "doc_id")
      .withColumn("__mixkey", SourceMix.defaultKey(col("doc_id")))
      .orderBy(col("ord")).select("__mixkey").collect().map(_.getLong(0))
    assert(inOrder.length > 100, "fixture must keep a meaningful sample")
    val sortedRuns = inOrder.sliding(2).count(p => p(0) <= p(1))
    // a shared key gives a fully non-decreasing sequence (every pair
    // ordered); independent keys give ~half
    assert(sortedRuns < inOrder.length * 3 / 4,
      s"training order tracks the mix key ($sortedRuns/${inOrder.length - 1} ordered pairs)")
  }

  test("Split.leakageReport: leak-free split has zero straddles, naive leaks, absent endpoints surface") {
    val docs = (0L until 100L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    // NOT consecutive ids: the multiplicative key's fixed stride mod 1000
    // puts every (i, i+1) pair on the SAME side of the 400 bar — these
    // pairs mix both-val, both-train, and genuine straddles
    val pairList = Seq((0L, 1L), (3L, 5L), (4L, 8L), (9L, 13L), (16L, 20L),
      (2L, 6L), (24L, 26L))
    val pairs = pairList.toDF("id_a", "id_b")
    val safe = Split.leakFreeSplit(docs, "doc_id", pairs, valPermille = 400,
      key = Split.multiplicativeKey)
    val safeRep = Split.leakageReport(safe, "doc_id", "split", pairs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(!safeRep.contains(("train", "val")),
      s"leak-free split leaked: $safeRep")
    assert(safeRep.values.sum == 7L) // every pair accounted for
    // naive per-doc split: at least one planted pair straddles (replica)
    val naive = docs.withColumn("split",
      when(Split.multiplicativeKey(col("doc_id")) < 400L, lit("val"))
        .otherwise(lit("train")))
    val naiveRep = Split.leakageReport(naive, "doc_id", "split", pairs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val straddles = pairList.count { case (a, b) =>
      ((a * 2654435761L) % 1000L < 400L) != ((b * 2654435761L) % 1000L < 400L)
    }
    assert(straddles > 0, "fixture must plant at least one naive straddle")
    assert(naiveRep.getOrElse(("train", "val"), 0L) == straddles.toLong)
    assert(naiveRep.values.sum == 7L)
    // an endpoint missing from the assignment reports as "absent"
    val dropped = safe.filter(col("doc_id") =!= 1L)
    val absRep = Split.leakageReport(dropped, "doc_id", "split", pairs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(absRep.keys.exists(k => k._1 == "absent" || k._2 == "absent"),
      s"dropped endpoint vanished from the audit: $absRep")
    assert(absRep.values.sum == 7L)
    // a NULL id can't be keyed: dropped from the assignment (key(NULL)
    // would otherwise silently bucket the row into 'train')
    val nullId = docs.withColumn("doc_id",
      when(col("doc_id") === 50L, lit(null).cast("long"))
        .otherwise(col("doc_id")))
    val nullSplit = Split.leakFreeSplit(nullId, "doc_id", pairs,
      valPermille = 1000, key = Split.multiplicativeKey)
    assert(nullSplit.filter(col("doc_id").isNull).isEmpty)
    // valPermille = 1000 means EVERY keyed row is val — nothing in train
    assert(nullSplit.filter(col("split") === "train").isEmpty)
  }

  test("CorpusDiff: added/removed/changed exactly, unchanged absent, null edges") {
    val before = Seq(
      (1L, "alpha"), (2L, "bravo"), (3L, "charlie"), (4L, "delta"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val after = Seq(
      (1L, "alpha"),            // unchanged -> absent
      (2L, "bravo EDITED"),     // changed
      // 3 removed
      (4L, null.asInstanceOf[String]), // text -> NULL: changed
      (5L, null.asInstanceOf[String]), // NULL -> NULL: unchanged
      (6L, "echo")              // added
    ).toDF("doc_id", "text")
    val got = CorpusDiff.diff(before, after, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 4L -> "changed",
      6L -> "added"), s"got $got")
    // NULL-id rows have no identity and are not diffable
    val withNullId = before.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], "ghost"))
        .toDF("doc_id", "text"))
    assert(CorpusDiff.diff(withNullId, after, "doc_id", "text")
      .filter(col("doc_id").isNull).isEmpty)
    // identical snapshots diff to nothing
    assert(CorpusDiff.diff(before, before, "doc_id", "text").isEmpty)
  }
}
