package graft.constraints

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.stats.{Drift, KllSketchAgg}

/** The constraint-validation suite over the tokenized-sequence table —
  * the scale-out re-expression of the reference's schema-diagnosis
  * use-case (README.md:86-104: detect truncation/mismatch BEFORE loading,
  * by comparing observed schema vs declared schema), with the reference's
  * two reporting channels: per-partition pass/fail verdicts (the
  * `analyze-json-schema` summary, core.clj:57-67) and violation rows with
  * identity + reason (the parser's failed-lines channel, parser.clj:9-28).
  *
  * Execution shape (designed for 10^12 rows / 1000 executors), one path
  * ([[validateOneScan]]), ONE action over ONE scan of the table:
  *  - the per-source stat sketches ride the scan as an `observe` aggregate
  *    ([[SuiteStatsBySourceAgg]]) — no exchange of their own, KBs per task
  *    merged driver-side;
  *  - above it, global exact uniqueness is the one unavoidable wide
  *    shuffle: a count-only exchange of a 128-bit hash pair per doc_id
  *    ([[dupStats]]), 16 fixed bytes per row whatever the key width, with
  *    the totals a second `observe` over the grouped pairs;
  *  - the row-level violations stay a lazy frame
  *    ([[ValidationReport.violations]]), one native mask walk per row when
  *    read;
  *  - referential, drift (PSI/KS over merged KLL sketches), and
  *    declared-fit verdicts are computed driver-side from the per-source
  *    sketch table (KBs, independent of data size).
  */
object Validator {

  /** The suite's two inputs besides the data and the dim table: the
    * table bounds and the declared column DDL (reference db_types side
    * door: observed stats are checked against these capacities with the
    * `wider?` truncation predicate, db_types/common.clj:20-115). The
    * sketch sizes are engine constants; with the bounds they form the
    * persisted [[SuiteStatsBySourceAgg.suiteKey]].
    */
  final case class SuiteConfig(
      vocabSize: Int = 50000,
      minNtok: Int = 16,
      maxNtok: Int = 513,
      declaredDdl: Map[String, String] = Map(
        "doc_id" -> "varchar(32)",
        "n_tok" -> "int",
        "tokens_element" -> "int")) {
    /** KLL sketch size of the n_tok drift sketches. */
    val kllK: Int = 200
    /** Id-range bins of the token-ID drift histogram. */
    val tokenHistBins: Int = 64
  }

  /** n_tok drift (PSI and KS over KLL sketches) and token-ID drift (PSI
    * over the histograms) thresholds.
    */
  private val PsiThreshold = 0.25
  private val KsThreshold = 0.30
  private val TokenPsiThreshold = 0.25

  /** The dialect of [[SuiteConfig.declaredDdl]] and [[suggestDdl]]. */
  private val DdlDialect: graft.dbtypes.DbTypeTranslator = graft.dbtypes.MySqlTranslator

  final case class ValidationReport(
      verdicts: DataFrame,
      violations: DataFrame,
      sourceStats: DataFrame)

  /** Names of the row-level checks, in flag order. */
  val rowChecks: Seq[String] =
    Seq("ntok_mismatch", "null_token", "oov_token", "ntok_bounds")

  /** Token-array statistics in ONE native pass per row (size, null count,
    * min, max) — replaces five interpreted higher-order-function walks of
    * the array; see [[graft.sequences.TokenStats]].
    */
  private def withTokenStats(df: DataFrame): DataFrame =
    df.withColumn("__ts",
      graft.sequences.TokenStats.token_stats(col("tokens")))

  /** Row-level violation flags over the precomputed token stats. */
  def rowFlags(cfg: SuiteConfig): Seq[(String, Column)] = Seq(
    "ntok_mismatch" -> (col("n_tok") =!= col("__ts.n")),
    "null_token"    -> (col("__ts.n_null") > 0),
    "oov_token" -> coalesce(
      col("__ts.min") < 0 || col("__ts.max") >= cfg.vocabSize, lit(false)),
    "ntok_bounds" -> (col("n_tok") < cfg.minNtok || col("n_tok") > cfg.maxNtok)
  )

  /** Violation rows: identity + failed checks, from one pruned scan.
    * The filter evaluates ONE native [[graft.sequences.ViolationMask]]
    * walk per row (predicate pushdown would inline a shared token_stats
    * alias into five walks per row); the reasons array and n_tokens are
    * decoded from the mask / array header only for the surviving (rare)
    * rows. [[violationsComposed]] is the composed-expressions twin,
    * pinned row-identical by SuiteStatsSpec.
    */
  def violations(df: DataFrame, cfg: SuiteConfig): DataFrame = {
    val mask = graft.sequences.ViolationMask.violation_mask(
      col("tokens"), col("n_tok"), cfg.vocabSize, cfg.minNtok, cfg.maxNtok)
    val reasons = array_compact(array(rowChecks.zipWithIndex.map {
      case (name, bit) =>
        when((col("__m").bitwiseAND(lit(1 << bit))) =!= 0, lit(name))
          .otherwise(lit(null))
    }: _*))
    df.withColumn("__m", mask)
      .filter(col("__m") =!= 0)
      .select(col("doc_id"), col("source"), col("n_tok"),
        size(col("tokens")).as("n_tokens"), reasons.as("checks"))
  }

  /** Composed-builtins twin of [[violations]] (the semantic definition). */
  private[graft] def violationsComposed(df: DataFrame, cfg: SuiteConfig): DataFrame = {
    val flags = rowFlags(cfg)
    val anyFlag = flags.map { case (_, c) => coalesce(c, lit(false)) }
      .reduce(_ || _)
    val reasons = array_compact(array(flags.map { case (name, c) =>
      when(coalesce(c, lit(false)), lit(name)).otherwise(lit(null))
    }: _*))
    withTokenStats(df)
      .filter(anyFlag)
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("__ts.n").as("n_tokens"), reasons.as("checks"))
  }

  /** Per-source observed stats + mergeable sketches — the engine's
    * "observed schema with metadata" (extract-then-merge, core.clj:22-27),
    * one row per source partition — in composed-builtins form: 16
    * aggregate expressions over two token-array walks (TokenStats +
    * TokenHistAgg). The semantic reference for the fused single-walk
    * [[observeStats]], pinned equal by SuiteStatsSpec.
    */
  private[graft] def sourceStatsComposed(df: DataFrame, cfg: SuiteConfig): DataFrame = {
    val flags = rowFlags(cfg).toMap
    withTokenStats(df).groupBy(col("source")).agg(
      count(lit(1)).as("n_rows"),
      count_if(coalesce(flags("ntok_mismatch"), lit(true))).as("n_ntok_mismatch"),
      count_if(coalesce(flags("null_token"), lit(false))).as("n_null_token"),
      count_if(coalesce(flags("oov_token"), lit(false))).as("n_oov_token"),
      count_if(coalesce(flags("ntok_bounds"), lit(true))).as("n_ntok_bounds"),
      count_if(col("doc_id").isNull).as("n_null_docid"),
      min(col("n_tok")).as("min_ntok"),
      max(col("n_tok")).as("max_ntok"),
      min(col("__ts.min")).as("min_token"),
      max(col("__ts.max")).as("max_token"),
      min(length(col("doc_id"))).as("min_docid_len"),
      max(length(col("doc_id"))).as("max_docid_len"),
      // estimate derives from the same physical sketch aggregate (Spark
      // dedups the identical agg expression) — no second per-row hash
      hll_sketch_estimate(hll_sketch_agg(col("doc_id")))
        .cast("long").as("approx_distinct_docid"),
      hll_sketch_agg(col("doc_id")).as("hll_docid"),
      KllSketchAgg.kll_sketch(col("n_tok"), cfg.kllK).as("kll_ntok"),
      graft.stats.TokenHistAgg.token_hist(col("tokens"),
        cfg.tokenHistBins, cfg.vocabSize).as("hist_token"))
  }

  /** Assemble the full report. `stats` must be the (possibly
    * resume-merged) per-source stats; `dim` is the sources dimension.
    */
  def buildVerdicts(
      spark: SparkSession,
      stats: Array[Row],
      dim: Array[Row],
      dupStats: Option[(Long, Long)], // (n duplicated keys, n extra rows)
      cfg: SuiteConfig): DataFrame = {
    import spark.implicits._

    val dimSources = dim.map(_.getAs[String]("source")).toSet
    val bySource = stats.map(r => r.getAs[String]("source") -> r).toMap

    def vRow(source: String, check: String, pass: Boolean,
             observed: String, expected: String): (String, String, Boolean, String, String) =
      (source, check, pass, observed, expected)

    val perSource = stats.flatMap { r =>
      val s = r.getAs[String]("source")
      val nRows = r.getAs[Long]("n_rows")
      def cnt(fld: String) = r.getAs[Long](fld)

      val rowLevel = Seq(
        ("ntok_mismatch", cnt("n_ntok_mismatch")),
        ("null_token", cnt("n_null_token")),
        ("oov_token", cnt("n_oov_token")),
        ("ntok_bounds", cnt("n_ntok_bounds")),
        ("null_docid", cnt("n_null_docid"))
      ).map { case (check, bad) =>
        vRow(s, check, bad == 0L, s"$bad/$nRows violating rows", "0 violations")
      }

      val referential = vRow(s, "referential", dimSources.contains(s),
        s"source '$s' ($nRows rows)", s"source in dim(${dimSources.size})")

      // declared-fit: observed ranges must sit inside declared bounds —
      // the reference's `wider?` truncation predicate re-expressed over
      // observed stats (db_types/common.clj:20-115)
      val fit = {
        val minT = Option(r.getAs[Integer]("min_token")).map(_.toInt)
        val maxT = Option(r.getAs[Integer]("max_token")).map(_.toInt)
        val obs = s"tokens in [${minT.getOrElse("-")},${maxT.getOrElse("-")}]"
        val pass = maxT.forall(_ < cfg.vocabSize) && minT.forall(_ >= 0)
        vRow(s, "vocab_fit", pass, obs, s"[0,${cfg.vocabSize})")
      }

      // observed-vs-declared truncation risk: the reference's README
      // use-case (README.md:86-104), evaluated from stats alone
      val declaredFit = {
        val observed = observedTypes(r).toMap
        cfg.declaredDdl.toSeq.sortBy(_._1).flatMap { case (colName, ddl) =>
          observed.get(colName).map { obs =>
            val declared = DdlDialect.colTypeToSchemaType(ddl)
            val pass = graft.dbtypes.Wider.eqWidthOrNarrower(obs, declared)
            vRow(s, s"declared_fit_$colName", pass,
              graft.types.SchemaType.render(obs),
              s"fits $ddl (${graft.types.SchemaType.render(declared)})")
          }
        }
      }

      rowLevel ++ declaredFit :+ referential :+ fit
    }

    // drift: each source's n_tok KLL vs the pooled rest. NB: KLL compaction
    // is internally randomized (datasketches), so the PSI/KS *readouts* may
    // vary in trailing decimals across runs; the pass/fail decision is what
    // the engine guarantees stable (thresholds sit far from noise).
    val drift = {
      val sketches = stats.map { r =>
        r.getAs[String]("source") -> r.getAs[Array[Byte]]("kll_ntok")
      }.sortBy(_._1)
      sketches.map { case (s, bytes) =>
        val self = KllSketchAgg.fromBytes(bytes)
        val rest = KllSketchAgg.mergeBytes(
          sketches.collect { case (o, b) if o != s => b }, cfg.kllK)
        val psi = Drift.psi(rest, self)
        val ks = Drift.ks(rest, self)
        vRow(s, "ntok_drift", psi <= PsiThreshold && ks <= KsThreshold,
          f"PSI=$psi%.4f KS=$ks%.4f",
          f"PSI<=$PsiThreshold KS<=$KsThreshold")
      }.toSeq
    }

    // declared bounds from the DIM TABLE (constraint spec as data, not
    // config): sources(expected_min_ntok, expected_max_ntok exclusive,
    // vocab_size) -> observed ranges must fit. Skipped when the caller's
    // dim lacks the spec columns.
    val dimBounds: Map[String, (Int, Int, Int)] = dim.flatMap { d =>
      val f = d.schema.fieldNames.toSet
      if (Set("expected_min_ntok", "expected_max_ntok", "vocab_size").subsetOf(f)) {
        // a NULL spec value means "no bound declared for this source" —
        // skip the check rather than letting the null unbox to 0 and
        // produce bogus verdicts (every source failing tokens < 0)
        def oi(n: String): Option[Int] = Option(d.getAs[Integer](n)).map(_.toInt)
        for (lo <- oi("expected_min_ntok"); hi <- oi("expected_max_ntok");
             vs <- oi("vocab_size"))
          yield d.getAs[String]("source") -> ((lo, hi, vs))
      } else None
    }.toMap
    val dimFit = stats.flatMap { r =>
      val s = r.getAs[String]("source")
      dimBounds.get(s).map { case (lo, hiExcl, vs) =>
        def oi(f: String) = Option(r.getAs[Integer](f)).map(_.toInt)
        val pass =
          oi("min_ntok").forall(_ >= lo) && oi("max_ntok").forall(_ < hiExcl) &&
          oi("min_token").forall(_ >= 0) && oi("max_token").forall(_ < vs)
        vRow(s, "dim_bounds", pass,
          s"n_tok[${oi("min_ntok").getOrElse("-")},${oi("max_ntok").getOrElse("-")}] " +
            s"tokens[${oi("min_token").getOrElse("-")},${oi("max_token").getOrElse("-")}]",
          s"n_tok in [$lo,$hiExcl) tokens in [0,$vs)")
      }
    }.toSeq

    // completeness (reverse referential): every dim source must have data
    // — a silently missing partition is the upload failure the reference's
    // diagnosis use-case exists to catch before training reads the table
    val completeness = dim.map(_.getAs[String]("source")).sorted.map { s =>
      bySource.get(s) match {
        case Some(r) =>
          vRow(s, "completeness", pass = true,
            s"${r.getAs[Long]("n_rows")} rows observed", ">0 rows per dim source")
        case None =>
          vRow(s, "completeness", pass = false,
            "0 rows observed", ">0 rows per dim source")
      }
    }.toSeq

    // token-ID distribution drift: each source's token histogram vs the
    // pooled rest (vector-add of the other sources' histograms — the same
    // self-vs-rest design as the n_tok KLL drift, but over the payload)
    val tokenDrift = {
      val hists = stats.map { r =>
        // collection.Seq: fused-agg rows surface mutable.ArraySeq here
        r.getAs[String]("source") ->
          r.getAs[scala.collection.Seq[Long]]("hist_token").toArray
      }.sortBy(_._1)
      hists.map { case (s, self) =>
        val rest = hists.collect { case (o, h) if o != s => h }
          .reduceOption(graft.stats.TokenHistAgg.add)
          .getOrElse(new Array[Long](self.length))
        val psi = Drift.psiCounts(rest, self)
        vRow(s, "token_drift", psi <= TokenPsiThreshold,
          f"PSI=$psi%.4f over ${self.length} id-range bins",
          f"PSI<=$TokenPsiThreshold")
      }.toSeq
    }

    val global = dupStats.toSeq.map { case (nKeys, nExtra) =>
      vRow("*", "uniqueness", nKeys == 0L,
        s"$nKeys duplicated doc_ids ($nExtra extra rows)", "all doc_ids unique")
    }

    (perSource.toSeq ++ dimFit ++ completeness ++ drift ++ tokenDrift ++ global)
      .toDF("source", "check", "pass", "observed", "expected")
  }

  /** Suggested narrowest-fitting column DDL per source, derived from the
    * observed stats — the reference's diagnose-then-fix loop closed
    * (README.md:86-104 diagnoses truncation risk; json-type->col-type,
    * mysql.clj:169-204, emits the column that WOULD fit). Driver-side
    * over the KB-sized stats rows.
    */
  def suggestDdl(stats: Array[Row]): Seq[(String, String, String, String)] = {
    stats.flatMap { r =>
      observedTypes(r).map { case (colName, obs) =>
        (r.getAs[String]("source"), colName, graft.types.SchemaType.render(obs),
          DdlDialect.schemaTypeToColType(obs))
      }
    }.toSeq.sortBy(t => (t._1, t._2))
  }

  /** The observed SchemaType of each declared-fit column in one stats row,
    * from its min/max fields; a column whose min/max is NULL (no value
    * seen) is absent.
    */
  private def observedTypes(r: Row): Seq[(String, graft.types.SchemaType)] = {
    import graft.types.{IntT, StrT}
    def range(f: String): Option[(Int, Int)] = for {
      mn <- Option(r.getAs[Integer](s"min_$f")); mx <- Option(r.getAs[Integer](s"max_$f"))
    } yield (mn.toInt, mx.toInt)
    Seq(
      "doc_id" -> range("docid_len").map { case (mn, mx) => StrT(mn.toLong, mx.toLong) },
      "n_tok" -> range("ntok").map { case (mn, mx) => IntT(BigInt(mn), BigInt(mx)) },
      "tokens_element" -> range("token").map { case (mn, mx) => IntT(BigInt(mn), BigInt(mx)) })
      .collect { case (colName, Some(t)) => colName -> t }
  }

  /** Hash pairs of the doc_ids that occur more than once, with their
    * count `n` — the one uniqueness exchange. It ships TWO independent
    * 64-bit hashes of the key instead of the key string (the
    * dropExactDuplicates payload-free shape, guide §2.3 "shuffle keys'
    * metadata"): 16 fixed bytes per row and long-pair hash-agg compares,
    * with joint collision odds ~2^-128 per pair — negligible at any
    * physical corpus size. The count partially aggregates map-side, so a
    * hot key collapses to one row per input partition before the exchange.
    *
    * A NULL doc_id hashes to (NULL, NULL) — unguarded, `xxhash64` skips
    * NULL children and would hash it to the seed — so the NULL ids form
    * ONE group here, which only [[dupStats]]'s totals leave out. Filtering
    * them out before the exchange instead — or filtering on `__h`, which
    * the optimizer pushes below the aggregate — empties the shuffle stage
    * of an all-NULL table, and AQE then drops that empty stage together
    * with the stats `CollectMetrics` riding it ([[validateOneScan]]).
    */
  private[graft] def duplicateHashes(df: DataFrame): DataFrame = {
    val id = col("doc_id")
    df.select(when(id.isNotNull, xxhash64(id)).as("__h"),
        when(id.isNotNull, graft.ops.Dedup.contentHash2(id)).as("__h2"))
      .groupBy(col("__h"), col("__h2"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
  }

  /** (n duplicated keys, n extra rows) over [[duplicateHashes]], in ONE
    * action: a `noop` write of the duplicated pairs, with the totals a
    * second `observe` on them. Over a frame from [[observeStats]] the same
    * action fires the stats observation under the exchange.
    *
    * Embedded-uniqueness semantics (uniqueness holds over the rows where
    * the key is defined): the NULL-id group is left out of the totals —
    * NULL ids are reported per source by the `null_docid` check, never as
    * one shared key. Always `Some`; the option is [[buildVerdicts]]'s,
    * where the streaming path passes `None` (it has no global key
    * exchange). `cfg` is unused — uniqueness depends on the data alone — and
    * stays for perfbench's `constraints.dup_stats` probe, which passes it.
    */
  private[graft] def dupStats(df: DataFrame, cfg: SuiteConfig): Option[(Long, Long)] = {
    val totals = org.apache.spark.sql.Observation()
    val keyed = col("__h").isNotNull
    duplicateHashes(df)
      .observe(totals, count_if(keyed).as("k"), sum(when(keyed, col("n") - 1)).as("extra"))
      .write.format("noop").mode("overwrite").save()
    // absent (no row reached the exchange) or a NULL sum (no duplicate) is 0
    def total(name: String): Long =
      totals.get.get(name).collect { case n: Long => n }.getOrElse(0L)
    Some((total("k"), total("extra")))
  }

  /** The per-source stats row: `source` + the [[SuiteStatsAgg.schema]]
    * fields.
    */
  private[graft] val statsSchema: StructType = StructType(
    StructField("source", StringType, nullable = true) +: SuiteStatsAgg.schema.fields)

  /** Attach the by-source suite-stats observation to `df`. After exactly
    * ONE action runs over the returned frame, the thunk yields the stats
    * rows (the [[sourceStatsComposed]] schema) — the fused one-scan machinery
    * shared by [[validateOneScan]] (the uniqueness action), the resumable
    * runner and the streaming micro-batch path (the violations write).
    *
    * No `stats` key means no row reached the observation: under an
    * exchange, AQE drops a shuffle stage that came out empty together with
    * the `CollectMetrics` in it. That reads as no stats rows, as an
    * observation over zero rows does.
    */
  private[graft] def observeStats(df: DataFrame, cfg: SuiteConfig)
      : (DataFrame, () => Array[Row]) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      SuiteStatsBySourceAgg.suite_stats_by_source(
        col("source"), col("doc_id"), col("tokens"), col("n_tok"), cfg)
        .as("stats"))
    val thunk = () => obs.get.get("stats").toSeq
      .flatMap(_.asInstanceOf[scala.collection.Seq[Row]])
      .map { r =>
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          (r.get(0) +: r.getStruct(1).toSeq).toArray, statsSchema): Row
      }.toArray
    (observed, thunk)
  }

  /** ONE-SCAN validation in ONE action: the per-source stats ride the
    * table scan as an `observe` (CollectMetrics) aggregate
    * ([[SuiteStatsBySourceAgg]]) under the uniqueness exchange of
    * [[dupStats]], whose action fires both observations — at 100 TB the
    * table scan IS the cost, and the suite pays it once. The exchange
    * still carries only the hash pair and its partial count.
    *
    * The returned report's `violations` frame is lazy: it re-derives the
    * violation rows when read. The scan where the stats ride a violations
    * WRITE instead is [[ResumableValidator]]'s.
    *
    * Stats and violations are pinned to the composed reference forms
    * ([[sourceStatsComposed]], [[violationsComposed]]) by
    * FusedValidateSpec and SuiteStatsSpec.
    */
  def validateOneScan(spark: SparkSession, df: DataFrame, dim: DataFrame,
                      cfg: SuiteConfig = SuiteConfig()): ValidationReport = {
    val (observed, statsThunk) = observeStats(df, cfg)
    val dups = dupStats(observed, cfg)
    val stats = statsThunk()
    val verdicts = buildVerdicts(spark, stats, dim.collect(), dups, cfg)
    ValidationReport(verdicts, violations(df, cfg), statsToDf(spark, stats))
  }

  private[graft] def statsToDf(spark: SparkSession, rows: Array[Row]): DataFrame =
    if (rows.isEmpty) spark.emptyDataFrame
    else spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), rows(0).schema)
}
