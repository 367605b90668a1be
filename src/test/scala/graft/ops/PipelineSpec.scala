package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** End-to-end training-data pipeline over one synthetic corpus, exercising
  * the SHIPPED composition ([[Pipeline.run]] — the same code `Main
  * pipeline` drives): quality gate -> PII scrub -> exact dedup -> near-dup
  * clusters -> keep canonical -> decontaminate vs eval -> pack. Each stage
  * is unit-tested on its own; this spec guards the cross-op conventions
  * (schemas, keep-min-id) through the real wiring.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("quality -> redact -> dedup -> clusters -> decontaminate -> pack composes") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, s"$base one"),                       // near-dup cluster {1,2,3}
      (2L, s"$base two"),
      (3L, s"$base one"),                       // exact dup of 1
      (4L, "completely different words about mountains and snow and wind here"),
      (5L, "tiny"),                             // fails quality (too short)
      (6L, "mail me at a@b.com please for the full catalog of rare maps " +
        "and charts held in the archive reading room"),
      (10L, s"$base one")                       // the eval doc: contained in 1/3
    ).toDF("doc_id", "text")
      .withColumn("source", when(col("doc_id") < 10, "train").otherwise("eval"))

    val res = Pipeline.run(docs, Pipeline.Config(
      evalSources = Seq("eval"),
      jaccardThreshold = 0.5,
      budget = 200))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    // 1. quality gate dropped doc 5 (too short); everything else scrubbed
    assert(ids(res.scrubbed) == Set(1L, 2L, 3L, 4L, 6L, 10L))

    // 2. PII scrub rewrote doc 6's email
    assert(res.scrubbed.agg(sum("n_email")).collect()(0).getLong(0) == 1L)
    assert(res.scrubbed.filter(col("text").contains("a@b.com")).count() == 0)

    // 3. exact dedup kept min id per content (doc 3 identical to 1)
    assert(ids(res.exact) == Set(1L, 2L, 4L, 6L))

    // 4. near-dup cluster {1,2} folded to its min id
    assert(ids(res.canonical) == Set(1L, 4L, 6L))

    // 5. decontamination removed doc 1 (contains the eval doc)
    assert(res.pairs.count() >= 1) // the {1,2} near-dup pair was found
    assert(ids(res.kept) == Set(4L, 6L))

    // 6. the survivors packed into one budget-respecting pack
    val packs = res.packed.collect()
      .map(r => (r.getLong(1), r.getSeq[Long](4).toList))
    assert(packs.toSeq == Seq((0L, List(4L, 6L))))

    // 6b. the funnel grid is COMPLETE: both sources report all 5 stages,
    // and the eval source (which exits after scrubbed by design) reads
    // explicit zeros from exact_dedup on — never a missing row
    val funnel0 = Pipeline.sourceFunnel(res)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Int]("stage_idx")) -> r.getAs[Long]("n_docs")).toMap
    assert(funnel0.keySet == (for (s <- Set("train", "eval"); i <- 1 to 5)
      yield (s, i)))
    assert(funnel0(("eval", 1)) == 1L)
    (2 to 5).foreach(i => assert(funnel0(("eval", i)) == 0L,
      s"eval source must report an explicit 0 at stage $i"))
    assert(funnel0(("train", 5)) == 2L) // docs 4 and 6 shipped

    // 7. unpersist releases EVERY table the run pinned — including the
    // miner's signature table via its Cached handle (round-2 left it
    // cached with no way to release short of clearCache())
    res.unpersist()
    val uncached = org.apache.spark.storage.StorageLevel.NONE
    assert(res.scrubbed.storageLevel == uncached)
    assert(res.exact.storageLevel == uncached)
    assert(res.kept.storageLevel == uncached)
    res.miner.handles.foreach(f => assert(f.storageLevel == uncached,
      "miner signature table still cached after Result.unpersist()"))
  }

  test("funnel reports NULL-source rows with real counts, not zeros") {
    // the grid join must be null-safe: an EqualTo join would give the
    // NULL source a grid row whose counts never match -> 0 everywhere
    val df = Seq(
      (1L, "some perfectly adequate document text right here okay", "src"),
      (2L, "another quite adequate document with different words entirely",
        null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source")
    val res = Pipeline.run(df)
    val f = Pipeline.sourceFunnel(res).collect()
      .map(r => (Option(r.getString(0)), r.getInt(1)) -> r.getLong(3)).toMap
    assert(f.keySet.map(_._1) == Set(Some("src"), None))
    (1 to 5).foreach { i =>
      assert(f((None, i)) == 1L, s"NULL source must count 1 at stage $i")
      assert(f((Some("src"), i)) == 1L)
    }
    res.unpersist()
  }

  test("calibrateTrim knob: each train source drops its bottom fraction, eval is never calibrated") {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // doc i: i+12 distinct letter-words -> strictly increasing lengths
    // from 51 chars (past the quality gate's 50), zero shared vocabulary
    // (no dedup/decontamination interference)
    val train = (1 to 8).map { i =>
      (i.toLong,
        (1 to i + 12).map(w => s"${alpha(i)}${alpha(w)}x").mkString(" "),
        "train")
    }
    val ev = Seq(
      (20L, "evaluation passage about distant galaxies and their cold stars", "eval"),
      (21L, "evaluation passage two about ocean currents and warm tides", "eval"))
    val df = (train ++ ev).toDF("doc_id", "text", "source")
    val cfg = Pipeline.Config(evalSources = Seq("eval"))

    val base = Pipeline.run(df, cfg)
    assert(base.kept.select("doc_id").collect().map(_.getLong(0)).toSet
      == (1L to 8L).toSet)
    base.unpersist()

    // p = 0.25 over 8 docs: ceil(2) -> threshold = 2nd-smallest length,
    // so exactly the shortest doc drops; eval rows stay untouched
    val cal = Pipeline.run(df, cfg.copy(calibrateTrim = Some(0.25)))
    assert(cal.kept.select("doc_id").collect().map(_.getLong(0)).toSet
      == (2L to 8L).toSet)
    assert(cal.eval.get.count() == 2L)
    cal.unpersist()
  }

  test("split + mix knobs: similar pairs share a side, packs never cross it, val is never thinned") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val fillers = (3L to 18L).map { i =>
      (i, s"filler document number $i carrying its own distinct vocabulary " +
        s"word${i}a word${i}b word${i}c word${i}d word${i}e and nothing shared")
    }
    // docs 1 and 2 share the 14-word base (J ~ 0.67): merely similar —
    // above splitJaccard 0.3, below the 0.95 fold bar, so BOTH survive
    // dedup and the split must keep them on one side
    val docs = (Seq(
      (1L, s"$base one extra words here"),
      (2L, s"$base two other tail words")) ++ fillers)
      .toDF("doc_id", "text").withColumn("source", lit("s0"))

    val cfgSplit = Pipeline.Config(jaccardThreshold = 0.95,
      valPermille = Some(400), splitJaccard = 0.3, budget = 300)
    val res = Pipeline.run(docs, cfgSplit)
    val side = res.corpus.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(side.size == 18, "nothing folded or dropped at these thresholds")
    assert(side(1L) == side(2L), "the merely-similar pair straddles the split")
    assert(side.values.toSet == Set("train", "val"), "both sides occupied")
    // packs never cross the boundary, and the parsed source leads with it
    res.packed.collect().foreach { r =>
      val sides = r.getSeq[Long](4).map(side)
      assert(sides.distinct.size == 1, s"pack ${r.getLong(1)} mixes sides")
      assert(r.getAs[String]("source") == s"${sides.head}#s0")
    }
    res.unpersist()

    // the mix thins ONLY the train side, deterministically: same split,
    // val rows identical, train rows a subset of the unmixed run's
    val res2 = Pipeline.run(docs, cfgSplit.copy(mixTargetRows = Some(6L)))
    val side2 = res2.corpus.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val valIds = side.collect { case (id, "val") => id }.toSet
    assert(side2.collect { case (id, "val") => id }.toSet == valIds,
      "validation rows must never be thinned")
    val train2 = side2.collect { case (id, "train") => id }.toSet
    val train1 = side.collect { case (id, "train") => id }.toSet
    assert(train2.subsetOf(train1) && train2.size < train1.size,
      s"mix should thin the train side (${train1.size} -> ${train2.size})")
    res2.unpersist()

    // the epoch knob: budget ~2x the train text repeats train docs (epoch
    // column appears, some doc reaches epoch 2), val rows stay exactly
    // one copy at epoch 1, and setting both samplers is refused
    val trainChars = docs.filter(col("doc_id").isin(train1.toSeq: _*))
      .agg(sum(length(col("text")))).head.getLong(0)
    val res3 = Pipeline.run(docs,
      cfgSplit.copy(epochBudgetTokens = Some(trainChars * 2)))
    val rows3 = res3.corpus.select("doc_id", "split", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val valRows = rows3.filter(_._2 == "val")
    assert(valRows.map(_._1).toSet == valIds && valRows.forall(_._3 == 1L),
      "validation rows must stay one copy at epoch 1")
    // one source, budget 2x -> every train doc plans base 2 epochs
    assert(rows3.filter(_._2 == "train").groupBy(_._1).values
      .forall(_.map(_._3).sorted.startsWith(Seq(1L, 2L))),
      "a 2x budget should repeat every train doc at least twice")
    res3.unpersist()
    val both = intercept[IllegalArgumentException] {
      Pipeline.run(docs, cfgSplit.copy(mixTargetRows = Some(6L),
        epochBudgetTokens = Some(1000L)))
    }
    assert(both.getMessage.contains("alternative recipe samplers"))

    // the order knob on top of epochs: corpus gains (shard, ord), ord is
    // a contiguous 0-based permutation, and the row multiset is EXACTLY
    // res3's (ordering annotates, never adds or drops)
    val res4 = Pipeline.run(docs,
      cfgSplit.copy(epochBudgetTokens = Some(trainChars * 2),
        orderShards = Some(4)))
    val rows4 = res4.corpus.select("doc_id", "split", "epoch", "ord").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows4.map(t => (t._1, t._2, t._3)).sorted.toSeq == rows3.sorted.toSeq,
      "the order stage must not change the shipped row multiset")
    assert(rows4.map(_._4).sorted.toSeq == (0L until rows4.length.toLong),
      "ord must be a contiguous 0-based permutation")
    // packs are unaffected by the order annotation
    assert(res4.packed.columns.toSeq == res3.packed.columns.toSeq)

    // the funnel reads the run's own cached frames: counts non-increasing
    // per source through decontaminated, shipped reflects the epoch
    // expansion, and stage 5 == the corpus row count exactly
    val funnel = Pipeline.sourceFunnel(res4)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Int]("stage_idx"), r.getAs[Long]("n_docs")))
    val bySrc = funnel.groupBy(_._1)
    bySrc.foreach { case (src, rows) =>
      val byStage = rows.sortBy(_._2)
      val throughDecon = byStage.filter(_._2 <= 4).map(_._3)
      assert(throughDecon.zip(throughDecon.tail).forall { case (a, b) => b <= a },
        s"$src funnel increased before decontaminated: ${byStage.toSeq}")
    }
    assert(funnel.filter(_._2 == 5).map(_._3).sum == rows4.length.toLong,
      "shipped stage must count the corpus exactly")
    res4.unpersist()
  }

  test("calibrateLmRefSources: per-source trim runs on the reference-LM score") {
    // clean source mirrors the reference; srcB holds one gibberish doc
    // that is LONG (so the length score would KEEP it) but all-OOV (so
    // the LM score trims it) — the knob must flip which doc drops
    val refDocs = (1 to 6).map(i =>
      (100L + i, "the quick brown fox jumps over the lazy dog again and again", "ref"))
    val bDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog once more today", "srcB"),
      (2L, "the lazy dog jumps over the quick brown fox every single day", "srcB"),
      (3L, "zxqv wqpt kjhg mnbv plok qwer asdf zxcv tyui ghjk bnml oiuy", "srcB"))
    val docs = (refDocs ++ bDocs).toDF("doc_id", "text", "source")

    val lmRes = Pipeline.run(docs, Pipeline.Config(
      calibrateTrim = Some(0.34), calibrateLmRefSources = Seq("ref")))
    val keptLm = lmRes.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!keptLm.contains(3L), s"gibberish doc survived the LM trim: $keptLm")
    assert(keptLm.contains(1L) && keptLm.contains(2L))
    lmRes.unpersist()

    // an empty reference slice must refuse, not silently no-op
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(docs, Pipeline.Config(
        calibrateTrim = Some(0.34), calibrateLmRefSources = Seq("nope")))
    }
    assert(e.getMessage.contains("reference LM"), e.getMessage)
  }

  test("splitJaccard below the mining floor is refused, not silently weakened") {
    val docs = Seq((1L, "a b c", "s1")).toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(docs, Pipeline.Config(
        valPermille = Some(100), splitJaccard = Pipeline.MiningFloor / 2))
    }
    assert(e.getMessage.contains("candidate"), e.getMessage)
    // without the split knob the value is unused -> no error (config
    // defaults elsewhere must not start failing)
    Pipeline.run(docs, Pipeline.Config(splitJaccard = 0.01)).unpersist()
  }

  test("packBpeMerges knob: packs budget in TOKENS of the shipped tokenizer") {
    // six docs, each ten words over its own two words (a de Bruijn order
    // of A/B, so no 3-word shingle repeats and the quality gate keeps
    // them). Every word ends in one shared 8-letter suffix: highly
    // compressible under BPE (20 merges leave 1-2 tokens per word, at
    // most 14 per doc) but 109 chars long — a budget of 30 fits TWO docs
    // by tokens yet not even ONE by chars, so the knob must change the
    // grouping, not just the len column
    val docs = (1 to 6).map { i =>
      val c = ('a' + i).toChar
      (i.toLong, "0001011100".map(b => s"$c${if (b == '0') 'a' else 'b'}zyxwvuts")
        .mkString(" "), "src")
    }.toDF("doc_id", "text", "source")
    val cfg = Pipeline.Config(budget = 30)

    val byChars = Pipeline.run(docs, cfg)
    val byTokens = Pipeline.run(docs, cfg.copy(packBpeMerges = 20))
    try {
      assert(byChars.bpe.isEmpty && byTokens.bpe.isDefined)
      val model = byTokens.bpe.get
      val texts = docs.collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def packs(res: Pipeline.Result): Seq[Seq[Long]] = res.packed
        .select("seq_ids").collect().map(_.getSeq[Long](0).toSeq).toSeq

      // every token pack respects the TOKEN budget under the exact model
      // the result ships (recomputed independently via encodeString), or
      // is a single oversize doc
      packs(byTokens).foreach { ids =>
        val tok = ids.map(id => Bpe.encodeString(texts(id), model).length).sum
        assert(tok <= cfg.budget || ids.size == 1,
          s"pack $ids holds $tok tokens > ${cfg.budget}")
      }
      // both runs ship every kept doc exactly once
      assert(packs(byTokens).flatten.sorted == (1L to 6L),
        s"token packs lost docs: ${packs(byTokens)}")
      assert(packs(byChars).flatten.sorted == (1L to 6L))
      // chars: 109-char docs never share a 30-budget pack; tokens: they do
      assert(packs(byChars).forall(_.size == 1))
      assert(packs(byTokens).exists(_.size > 1),
        s"token budget never co-packed: ${packs(byTokens)}")
    } finally { byChars.unpersist(); byTokens.unpersist() }
  }
}
