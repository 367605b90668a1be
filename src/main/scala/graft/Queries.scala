package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.JsonSchemaInference
import graft.ops.{Dedup, Ivf, Multimodal, Similarity, TextOps}
import graft.types.{DocT, IntT, SchemaType, StrictMerge}

/** The engine's query battery over the driver-provided tables: one entry
  * per operator family from SURVEY.md §2 plus the training-pipeline
  * operators (dedup, similarity, text analysis, multimodal). Each query
  * either has an exact DuckDB oracle (column names aligned, deterministic
  * ORDER BY, exact-friendly types) or is rows-only checked (approximate /
  * non-SQL-expressible ops).
  */
object Queries {

  final case class QueryDef(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---------------------------------------------------------------- queries

  /** Column stats in one scan — the stats half of the validation suite
    * (reference A2/A8 min-max tracking) over lineitem.
    */
  private def q01(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem").agg(
      count(lit(1)).cast("long").as("cnt"),
      count_if(col("l_quantity").isNull).cast("long").as("n_null_qty"),
      min(col("l_quantity")).cast("double").as("min_qty"),
      max(col("l_quantity")).cast("double").as("max_qty"),
      min(length(col("l_returnflag"))).cast("long").as("min_rf_len"),
      max(length(col("l_returnflag"))).cast("long").as("max_rf_len"),
      countDistinct(col("l_orderkey")).cast("long").as("n_orders"))

  private val q01Sql =
    """SELECT CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(count(*) FILTER (l_quantity IS NULL) AS BIGINT) AS n_null_qty,
      |  CAST(min(l_quantity) AS DOUBLE) AS min_qty,
      |  CAST(max(l_quantity) AS DOUBLE) AS max_qty,
      |  CAST(min(length(l_returnflag)) AS BIGINT) AS min_rf_len,
      |  CAST(max(length(l_returnflag)) AS BIGINT) AS max_rf_len,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      |FROM lineitem""".stripMargin

  /** Grouped aggregation (TPC-H Q1 shape): map-side partial agg + tiny
    * shuffle; doubles rounded for cross-engine sum-order stability.
    */
  private def q02(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).cast("long").as("n"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        round(avg(col("l_discount")), 6).as("avg_disc"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q02Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_extendedprice), 2) AS sum_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  round(avg(l_discount), 6) AS avg_disc
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Uniqueness violation detection: exact duplicate keys via hash
    * aggregate (the suite's global uniqueness check, here on o_custkey
    * which has planted-like natural duplicates).
    */
  private def q03(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "orders")
      .groupBy(col("o_custkey").as("key_val"))
      .agg(count(lit(1)).cast("long").as("n"))
      .filter(col("n") > 1)
      .orderBy(col("key_val"))

  private val q03Sql =
    """SELECT o_custkey AS key_val, CAST(count(*) AS BIGINT) AS n
      |FROM orders GROUP BY 1 HAVING count(*) > 1 ORDER BY key_val""".stripMargin

  /** Referential integrity — SURVEY §2.4. ONE scan of the child table: a
    * broadcast left-outer join against the deduplicated parent keys feeds
    * both the orphan count (null parent key) and the child total in a
    * single aggregate (the round-2 shape anti-joined + crossJoined a
    * second lineitem scan just for n_child).
    */
  private def q04(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val keys = tbl(spark, dir, "orders")
      .select(col("o_orderkey")).dropDuplicates("o_orderkey")
    li.join(broadcast(keys), li("l_orderkey") === keys("o_orderkey"), "left")
      .agg(count_if(keys("o_orderkey").isNull).cast("long").as("n_orphans"),
        count(lit(1)).cast("long").as("n_child"))
  }

  private val q04Sql =
    """SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |   AS n_orphans,
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child""".stripMargin

  /** Row-level consistency predicate (the suite's ntok_mismatch analog):
    * documents whose n_chars disagrees with length(text).
    */
  private def q05(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .agg(count_if(col("n_chars") =!= length(col("text"))).cast("long").as("n_bad"),
        count(lit(1)).cast("long").as("n_rows"))

  private val q05Sql =
    """SELECT CAST(count(*) FILTER (n_chars <> length(text)) AS BIGINT) AS n_bad,
      |  CAST(count(*) AS BIGINT) AS n_rows FROM documents""".stripMargin

  /** String-length stats per group (reference Str min/max length
    * semantics, types.clj:104-107).
    */
  private def q06(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(length(col("text"))).cast("long").as("min_len"),
        max(length(col("text"))).cast("long").as("max_len"),
        countDistinct(col("source")).cast("long").as("n_sources"))
      .orderBy(col("lang"))

  private val q06Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(length(text)) AS BIGINT) AS min_len,
      |  CAST(max(length(text)) AS BIGINT) AS max_len,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact deduplication summary (hash-groupBy on content). */
  private def q07(spark: SparkSession, dir: String): DataFrame = {
    val groups = Dedup.exactGroups(tbl(spark, dir, "documents"),
      col("text"), col("doc_id")).value
    groups.agg(
      count(lit(1)).cast("long").as("n_dup_groups"),
      coalesce(sum(col("n") - 1), lit(0L)).cast("long").as("n_extra"))
  }

  private val q07Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
      |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_extra
      |FROM (SELECT text, count(*) AS n FROM documents GROUP BY 1 HAVING count(*) > 1)""".stripMargin

  /** Window top-k per partition (violation sampling shape, SURVEY §2.5).
    * Scale note: the rank<=k filter triggers Catalyst's
    * InferWindowGroupLimit — a PARTIAL WindowGroupLimit keeps only k rows
    * per map partition before the exchange, so the per-source final
    * partition receives ~k x #input-partitions rows, never the whole
    * source (pinned in PlanSpec).
    */
  private def q08(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    tbl(spark, dir, "documents")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rn"))
      .orderBy(col("source"), col("rn"))
  }

  private val q08Sql =
    """SELECT source, doc_id, n_chars, rn FROM (
      |  SELECT source, doc_id, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
      |  FROM documents) WHERE rn <= 3 ORDER BY source, rn""".stripMargin

  /** Exact quantiles per group (the KLL drift check's exact baseline). */
  private def q09(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(percentile(col("n_chars"), array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
      .select(col("lang"),
        round(col("qs").getItem(0), 4).as("q25"),
        round(col("qs").getItem(1), 4).as("q50"),
        round(col("qs").getItem(2), 4).as("q75"))
      .orderBy(col("lang"))

  private val q09Sql =
    """SELECT lang,
      |  round(quantile_cont(n_chars, 0.25), 4) AS q25,
      |  round(quantile_cont(n_chars, 0.50), 4) AS q50,
      |  round(quantile_cont(n_chars, 0.75), 4) AS q75
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Distribution drift: PSI between two languages' n_chars histograms
    * (fixed-width bins, Laplace-smoothed) — the exact-histogram twin of
    * the suite's KLL-sketch PSI.
    */
  private def q10(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    def binned(lang: String, cn: String) = docs
      .filter(col("lang") === lang)
      .groupBy(least(floor(col("n_chars") / 50), lit(12L)).as("bin"))
      .agg(count(lit(1)).as(cn))
    val bins = spark.range(0, 13).select(col("id").as("bin"))
    val joined = bins
      .join(binned("en", "cnt_a"), Seq("bin"), "left")
      .join(binned("fr", "cnt_b"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = joined.agg(sum("cnt_a").as("tot_a"), sum("cnt_b").as("tot_b"))
    joined.crossJoin(totals)
      .select((((col("cnt_a") + 1) / (col("tot_a") + 13)) -
        ((col("cnt_b") + 1) / (col("tot_b") + 13))).as("diff"),
        log(((col("cnt_a") + 1) / (col("tot_a") + 13)) /
          ((col("cnt_b") + 1) / (col("tot_b") + 13))).as("lr"))
      .agg(round(sum(col("diff") * col("lr")), 6).as("psi"))
  }

  private val q10Sql =
    """WITH bins AS (SELECT unnest(generate_series(0, 12)) AS bin),
      |a AS (SELECT least(CAST(floor(n_chars / 50) AS BIGINT), 12) AS bin, count(*) AS cnt
      |      FROM documents WHERE lang = 'en' GROUP BY 1),
      |b AS (SELECT least(CAST(floor(n_chars / 50) AS BIGINT), 12) AS bin, count(*) AS cnt
      |      FROM documents WHERE lang = 'fr' GROUP BY 1),
      |j AS (SELECT bins.bin, coalesce(a.cnt, 0) AS cnt_a, coalesce(b.cnt, 0) AS cnt_b
      |      FROM bins LEFT JOIN a ON bins.bin = a.bin LEFT JOIN b ON bins.bin = b.bin),
      |t AS (SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b FROM j)
      |SELECT round(sum(
      |    (((cnt_a + 1.0) / (tot_a + 13.0)) - ((cnt_b + 1.0) / (tot_b + 13.0))) *
      |    ln(((cnt_a + 1.0) / (tot_a + 13.0)) / ((cnt_b + 1.0) / (tot_b + 13.0)))
      |  ), 6) AS psi
      |FROM j, t""".stripMargin

  /** Token counting (whitespace tokenization) over documents. */
  private def q11(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents").agg(
      sum(TextOps.tokenCountWs(col("text"))).cast("long").as("total_tokens"),
      max(TextOps.tokenCountWs(col("text"))).cast("long").as("max_tokens"),
      min(TextOps.tokenCountWs(col("text"))).cast("long").as("min_tokens"))

  private val q11Sql =
    """SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
      |  CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens
      |FROM documents""".stripMargin

  /** Text-quality ratios per source (language-independent components). */
  private def q12(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(
        round(avg(TextOps.alphaRatio(col("text"))), 6).as("avg_alpha"),
        round(avg(TextOps.whitespaceRatio(col("text"))), 6).as("avg_ws"),
        count(lit(1)).cast("long").as("n"))
      .orderBy(col("source"))

  private val q12Sql =
    """SELECT source,
      |  round(avg(CASE WHEN length(text) = 0 THEN 0
      |    ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) END), 6) AS avg_alpha,
      |  round(avg(CASE WHEN length(text) = 0 THEN 0
      |    ELSE length(regexp_replace(text, '[^\s]', '', 'g')) * 1.0 / length(text) END), 6) AS avg_ws,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stopword-family profile per labeled language (the lang-id features;
    * the classifier itself is asserted in ScalaTest).
    */
  private def q13(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val hits = Seq("en", "es", "fr", "de").map { l =>
      sum(TextOps.stopwordHits(col("text"), TextOps.stopwords(l)))
        .cast("long").as(s"hits_$l")
    }
    docs.groupBy(col("lang")).agg(hits.head, hits.tail: _*).orderBy(col("lang"))
  }

  private def duckHits(words: Seq[String]): String = {
    val pat = words.mkString("\\b(", "|", ")\\b")
    s"CAST(sum(len(regexp_extract_all(lower(text), '$pat'))) AS BIGINT)"
  }

  private val q13Sql =
    s"""SELECT lang,
       |  ${duckHits(TextOps.stopwords("en"))} AS hits_en,
       |  ${duckHits(TextOps.stopwords("es"))} AS hits_es,
       |  ${duckHits(TextOps.stopwords("fr"))} AS hits_fr,
       |  ${duckHits(TextOps.stopwords("de"))} AS hits_de
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Document fingerprinting: collision-free property oracle — the number
    * of distinct rolling-hash fingerprints must equal the number of
    * distinct texts.
    */
  private def q14(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .agg(countDistinct(TextOps.fingerprint(col("text"))).cast("long").as("n_distinct"))

  private val q14Sql =
    "SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_distinct FROM documents"

  /** Brute-force cosine top-k against a fixed query vector (exactness
    * baseline for ANN). Cosine rounded; vec_id tiebreak keeps order
    * deterministic across engines.
    */
  private def q15(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    Similarity.bruteTopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", query, 10)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** The brute-force top-10-cosine truth — the SHARED oracle of q15
    * (brute), q23 (LSH multi-probe), and q30 (IVF): the ANN paths are
    * graded as "must reproduce the exact top-k". Any change to the k /
    * exclusion / rounding here re-grades all three entries together —
    * that coupling is the point (they answer the same question).
    */
  private val bruteTopKSql =
    """SELECT vec_id, round(sim, 6) AS cosine FROM (
      |  SELECT e.vec_id,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS sim
      |  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |  WHERE e.vec_id <> 0)
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** Time-bucketed event aggregation (streaming-shaped batch query). */
  private def q16(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"), col("day"))

  private val q16Sql =
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Join + aggregate: revenue by order priority (broadcast-able dim). */
  private def q17(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    val o = broadcast(tbl(spark, dir, "orders"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_orderkey")).cast("long").as("n_orders"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  private val q17Sql =
    """SELECT o_orderpriority,
      |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Multi-hop dimension join rollup (both dims broadcast). */
  private def q18(spark: SparkSession, dir: String): DataFrame = {
    val c = tbl(spark, dir, "customer")
    val n = broadcast(tbl(spark, dir, "nation"))
    val r = broadcast(tbl(spark, dir, "region"))
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_acctbal"))
      .orderBy(col("r_name"))
  }

  private val q18Sql =
    """SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
      |  round(sum(c_acctbal), 2) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** ROLLUP aggregation (grouping-sets machinery the reference lacks,
    * SURVEY §2.3 "absent"): per (returnflag, linestatus) + subtotals +
    * grand total.
    */
  private def q25(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy(col("rf"), col("ls"))

  private val q25Sql =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |  coalesce(l_linestatus, 'ALL') AS ls,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin

  /** Semi-join (EXISTS) + anti-join (NOT EXISTS) counts in one result. */
  private def q26(spark: SparkSession, dir: String): DataFrame = {
    val c = tbl(spark, dir, "customer")
    val o = tbl(spark, dir, "orders")
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
    withOrders.agg(count(lit(1)).cast("long").as("n_with_orders"))
      .crossJoin(withoutOrders.agg(count(lit(1)).cast("long").as("n_without_orders")))
  }

  private val q26Sql =
    """SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM customer c
      |     WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
      |   AS n_with_orders,
      |  (SELECT CAST(count(*) AS BIGINT) FROM customer c
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
      |   AS n_without_orders""".stripMargin

  /** Batch sessionization via window functions (gap > 30 min starts a new
    * session): sessions per user, avg events per session.
    */
  private def q27(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val withGap = tbl(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        max(col("n_events")).cast("long").as("max_session_events"))
      .orderBy(col("user_id"))
  }

  private val q27Sql =
    """WITH gaps AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sessions AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM gaps),
      |per_session AS (
      |  SELECT user_id, session_id, count(*) AS n_events
      |  FROM sessions GROUP BY 1, 2)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(max(n_events) AS BIGINT) AS max_session_events
      |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin

  /** Semi-structured JSON column (events.props): parse + extract + agg.
    * (Spark-side via get_json_object — the Variant runtime path is
    * exercised in rows-only q22's full inference.)
    */
  private def q28(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .agg(count(lit(1)).cast("long").as("n"),
        count_if(col("k").isNull).cast("long").as("n_missing"),
        min(col("k")).cast("long").as("min_k"),
        max(col("k")).cast("long").as("max_k"),
        countDistinct(col("k")).cast("long").as("n_distinct_k"))

  private val q28Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (json_extract(props, '$.k') IS NULL) AS BIGINT) AS n_missing,
      |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      |  CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_distinct_k
      |FROM events""".stripMargin

  /** Set operations: event types seen before vs after a cutoff date. */
  private def q29(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val cutoff = "2024-01-15"
    val before = ev.filter(col("ts") < lit(cutoff)).select(col("event_type")).distinct()
    val after = ev.filter(col("ts") >= lit(cutoff)).select(col("event_type")).distinct()
    before.intersect(after).agg(count(lit(1)).cast("long").as("n_both"))
      .crossJoin(before.exceptAll(after).agg(count(lit(1)).cast("long").as("n_only_before")))
      .crossJoin(before.union(after).distinct()
        .agg(count(lit(1)).cast("long").as("n_union")))
  }

  private val q29Sql =
    """SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM
      |    (SELECT DISTINCT event_type FROM events WHERE ts < '2024-01-15'
      |     INTERSECT
      |     SELECT DISTINCT event_type FROM events WHERE ts >= '2024-01-15')) AS n_both,
      |  (SELECT CAST(count(*) AS BIGINT) FROM
      |    (SELECT DISTINCT event_type FROM events WHERE ts < '2024-01-15'
      |     EXCEPT
      |     SELECT DISTINCT event_type FROM events WHERE ts >= '2024-01-15')) AS n_only_before,
      |  (SELECT CAST(count(*) AS BIGINT) FROM
      |    (SELECT DISTINCT event_type FROM events WHERE ts < '2024-01-15'
      |     UNION
      |     SELECT DISTINCT event_type FROM events WHERE ts >= '2024-01-15')) AS n_union""".stripMargin

  // ------------- approximate ops, graded against brute-force oracles -----

  /** All near-dup pipelines rerank their LSH candidates with EXACT
    * 3-word-shingle Jaccard and emit the pairs above the threshold, so
    * the DuckDB brute-force all-pairs join is a true oracle: the blocking
    * stage must achieve full recall on the graded corpus (the planted
    * near-dups sit at J >= 0.85 with nothing between 0.2 and 0.85, where
    * banded-LSH miss probability is ~1e-12) and the rerank guarantees
    * precision by construction. The CASE mirrors ShingleHashes' short-text
    * fallback (< k words -> the whole text as the single shingle), so
    * sub-3-word documents compare identically in both engines.
    */
  private def shingleJaccardPairsSql(threshold: Double,
                                     extraWhere: String = ""): String = {
    val j = """round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        len(list_distinct(list_concat(a.sh, b.sh))), 6)""".stripMargin
    s"""WITH s AS (SELECT doc_id,
       |  CASE WHEN len(w) < 3 THEN [text]
       |       ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                           for i in range(1, len(w) - 1)]) END AS sh
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, $j AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE $j >= $threshold$extraWhere
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def rerankedPairs(docs: DataFrame, cands: DataFrame,
                            threshold: Double): DataFrame =
    Dedup.ngramJaccard(docs, cands.select(col("id_a"), col("id_b")),
        "text", "doc_id", k = 3).value
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))

  /** MinHash+LSH near-duplicate pairs, exact-Jaccard reranked. 16 bands
    * of 2 minhashes: band-match probability J^2, so a J >= 0.85 pair is
    * missed with probability (1 - 0.72)^16 ~ 4e-9 — deterministic full
    * recall on the graded corpus, verified against the all-pairs oracle.
    */
  private def q19(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id",
      shingleK = 3, perms = 32, bands = 16, minJaccard = 0.2).value
    rerankedPairs(docs, cands, 0.5)
  }

  private val q19Sql = shingleJaccardPairsSql(0.5)

  /** SimHash rotation-blocked near-duplicate pairs, exact-Jaccard
    * reranked — an independent candidate generator graded against the
    * same brute-force truth as q19.
    */
  private def q20(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val cands = Dedup.simhashCandidates(docs, "text", "doc_id",
      maxHamming = 16, blocks = 4, tables = 8, seed = 6, maxBucket = 512).value
    rerankedPairs(docs, cands, 0.5)
  }

  private val q20Sql = shingleJaccardPairsSql(0.5)

  /** Embedding near-duplicates via multi-table RHP-LSH blocking, exact
    * cosine reranked. The internal threshold (0.4) sits below the emitted
    * one (0.45) so boundary pairs are decided by the ROUNDED cosine in
    * both engines.
    */
  private def q21(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(tbl(spark, dir, "embeddings"),
        "embedding", "vec_id", threshold = 0.4, planes = 4, tables = 24).value
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy(col("id_a"), col("id_b"))

  /** Near-dup CLUSTERS: connected components (alternating
    * large-star/small-star, [[graft.ops.Components]]) over the
    * exact-reranked minhash pair set (q19's pairs), summarized per
    * component. Graded against a DuckDB recursive-CTE transitive closure
    * of the same brute-force all-pairs truth — the cluster-forming step of
    * the dedup pipeline, end-to-end.
    */
  private def q33(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id",
      shingleK = 3, perms = 32, bands = 16, minJaccard = 0.2).value
    val pairs = rerankedPairs(docs, cands, 0.5).select(col("id_a"), col("id_b"))
    graft.ops.Components.dupClusters(pairs, "id_a", "id_b")
      .select(col("component"), col("n_docs"),
        col("min_doc"), col("max_doc"))
      .orderBy(col("component"))
  }

  private val q33Sql = {
    val j = """round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        len(list_distinct(list_concat(a.sh, b.sh))), 6)""".stripMargin
    s"""WITH RECURSIVE s AS (SELECT doc_id,
       |  CASE WHEN len(w) < 3 THEN [text]
       |       ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                           for i in range(1, len(w) - 1)]) END AS sh
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $j >= 0.5),
       |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
       |lab AS (
       |  SELECT a AS id, comp FROM
       |    (SELECT a, b AS comp FROM e UNION SELECT a, a AS comp FROM e)
       |  UNION
       |  SELECT l.id, e2.b AS comp FROM lab l JOIN e e2 ON l.comp = e2.a),
       |comps AS (SELECT id, min(comp) AS component FROM lab GROUP BY id)
       |SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(id) AS min_doc, max(id) AS max_doc
       |FROM comps GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Decontamination: training docs containing >= 90% of an eval doc's
    * distinct 3-word shingles, via the inverted-index join
    * ([[graft.ops.Decontamination]]). Eval = src0-src3, train = the rest.
    * The internal threshold (0.85) sits below the emitted one (0.9) so
    * boundary pairs are decided by the ROUNDED containment in both
    * engines, mirroring q21's pattern; the oracle is the brute-force
    * all-pairs list_intersect truth.
    */
  private def q34(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val evalSources = Seq("src0", "src1", "src2", "src3")
    val pairs = graft.ops.Decontamination.containmentPairs(
      docs.filter(!col("source").isin(evalSources: _*)),
      docs.filter(col("source").isin(evalSources: _*)),
      "text", "doc_id", k = 3, minContainment = 0.85).value
    pairs.select(col("train_id"), col("eval_id"),
        round(col("containment"), 6).as("containment"))
      .filter(col("containment") >= 0.9)
      .orderBy(col("train_id"), col("eval_id"))
  }

  private val q34Sql = {
    val c = """round(CAST(len(list_intersect(v.sh, t.sh)) AS DOUBLE) /
              |        len(v.sh), 6)""".stripMargin
    s"""WITH s AS (SELECT doc_id, source,
       |  CASE WHEN len(w) < 3 THEN [text]
       |       ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                           for i in range(1, len(w) - 1)]) END AS sh
       |  FROM (SELECT doc_id, source, text, string_split(text, ' ') AS w
       |        FROM documents))
       |SELECT t.doc_id AS train_id, v.doc_id AS eval_id, $c AS containment
       |FROM s t JOIN s v
       |  ON t.source NOT IN ('src0','src1','src2','src3')
       | AND v.source IN ('src0','src1','src2','src3')
       |WHERE $c >= 0.9
       |ORDER BY train_id, eval_id""".stripMargin
  }

  /** Greedy sequence packing ([[graft.ops.Packing]]) of the documents
    * table into a 1024-char budget per (source, 100-id-range bucket) —
    * the corpus-scale key ([[graft.ops.Packing.bucketKey]]): parallelism
    * is #sources x #buckets instead of #sources (keying by source alone
    * streams an entire source through one task at 100 TB). The oracle
    * replays the same first-fit-in-order recurrence as a DuckDB recursive
    * CTE partitioned by the same key (one level per row within a bucket —
    * fine at graded scale; the Spark side streams each group in one
    * pass).
    */
  private def q35(spark: SparkSession, dir: String): DataFrame = {
    val (src, bucket) = graft.ops.Packing.parseBucketKey(col("group"))
    graft.ops.Packing.packGreedy(
        tbl(spark, dir, "documents").withColumn("grp",
          graft.ops.Packing.bucketKey(col("source"), col("doc_id"), 100L)),
        "grp", "doc_id", "n_chars", budget = 1024)
      .select(src.as("source"), bucket.as("bucket"),
        col("pack_id"), col("n_seqs"),
        col("total_len"), array_min(col("seq_ids")).as("min_id"),
        array_max(col("seq_ids")).as("max_id"))
      .orderBy(col("source"), col("bucket"), col("pack_id"))
  }

  private val q35Sql =
    """WITH RECURSIVE d AS (
      |  SELECT source, CAST(doc_id // 100 AS BIGINT) AS bucket, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source, doc_id // 100
      |                       ORDER BY doc_id) AS rn
      |  FROM documents),
      |g AS (
      |  SELECT source, bucket, rn, doc_id, CAST(n_chars AS BIGINT) AS len,
      |         CAST(0 AS BIGINT) AS pack_id, CAST(n_chars AS BIGINT) AS acc
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.bucket, d.rn, d.doc_id, CAST(d.n_chars AS BIGINT),
      |    CASE WHEN g.acc >= 1024 OR g.acc + d.n_chars > 1024
      |         THEN g.pack_id + 1 ELSE g.pack_id END,
      |    CASE WHEN g.acc >= 1024 OR g.acc + d.n_chars > 1024
      |         THEN CAST(d.n_chars AS BIGINT) ELSE g.acc + d.n_chars END
      |  FROM g JOIN d ON d.source = g.source AND d.bucket = g.bucket
      |              AND d.rn = g.rn + 1)
      |SELECT source, bucket, pack_id, CAST(count(*) AS BIGINT) AS n_seqs,
      |  CAST(sum(len) AS BIGINT) AS total_len,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM g GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Quality-filter audit ([[graft.ops.QualityFilter]]): per-source keep
    * counts + per-rule violation counts from ONE annotated pass (default
    * Gopher-style rules; lang rule off so the oracle stays closed-form).
    * Null texts count in n_docs but in no rule column in BOTH engines
    * (Spark: the null_text reason; DuckDB: three-valued logic drops them
    * from every FILTER).
    */
  private def q36(spark: SparkSession, dir: String): DataFrame = {
    val ann = graft.ops.QualityFilter.annotate(
      tbl(spark, dir, "documents"), "text")
    def hit(rule: String) =
      count_if(array_contains(col("reasons"), rule)).cast("long")
    ann.groupBy(col("source")).agg(
        count(lit(1)).cast("long").as("n_docs"),
        count_if(col("keep")).cast("long").as("n_kept"),
        hit("too_short").as("n_too_short"),
        hit("low_alpha").as("n_low_alpha"),
        hit("digit_heavy").as("n_digit_heavy"),
        hit("repetitive").as("n_repetitive"))
      .orderBy(col("source"))
  }

  private val q36Sql =
    """WITH f AS (
      |  SELECT source,
      |    length(text) < 50 AS too_short,
      |    length(text) > 100000 AS too_long,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |              / length(text) END < 0.6 AS low_alpha,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      |              / length(text) END > 0.2 AS digit_heavy,
      |    (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) > 0.3 AS repetitive
      |  FROM (SELECT source, text,
      |          CASE WHEN len(w) < 3 THEN [text]
      |               ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                     for i in range(1, len(w) - 1)] END AS sh
      |        FROM (SELECT source, text, string_split(text, ' ') AS w
      |              FROM documents)))
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(*) FILTER (NOT (too_short OR too_long OR low_alpha
      |                             OR digit_heavy OR repetitive)) AS BIGINT) AS n_kept,
      |  CAST(count(*) FILTER (too_short) AS BIGINT) AS n_too_short,
      |  CAST(count(*) FILTER (low_alpha) AS BIGINT) AS n_low_alpha,
      |  CAST(count(*) FILTER (digit_heavy) AS BIGINT) AS n_digit_heavy,
      |  CAST(count(*) FILTER (repetitive) AS BIGINT) AS n_repetitive
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** PII redaction audit ([[graft.ops.Redaction]]): the corpus carries no
    * PII, so the query PLANTS deterministic emails/IPs into the text
    * (identically constructed in both engines) and audits per-class
    * redaction counts per source. Counts follow the sequential-scrub
    * semantics (each class counted on the text as the previous classes
    * left it) in both engines.
    */
  private def q37(spark: SparkSession, dir: String): DataFrame = {
    val planted = tbl(spark, dir, "documents").withColumn("t",
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now")))
        .when(pmod(col("doc_id"), lit(11)) === 3,
          concat(col("text"), lit(" node 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".17 down")))
        .otherwise(col("text")))
    graft.ops.Redaction.annotate(planted, "t")
      .groupBy(col("source")).agg(
        sum(col("n_email")).as("n_email"),
        sum(col("n_ipv4")).as("n_ipv4"),
        sum(col("n_ssn_like")).as("n_ssn_like"),
        sum(col("n_phone")).as("n_phone"),
        count_if(col("n_email") + col("n_ipv4") + col("n_ssn_like") +
          col("n_phone") > 0).cast("long").as("n_pii_docs"))
      .orderBy(col("source"))
  }

  private val q37Sql = {
    val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val ipv4 = """\b(?:\d{1,3}\.){3}\d{1,3}\b"""
    val ssn = """\b\d{3}-\d{2}-\d{4}\b"""
    val phone = """\+?\d[\d -]{7,14}\d"""
    s"""WITH p AS (SELECT source,
       |  CASE WHEN doc_id % 7 = 0
       |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |       WHEN doc_id % 11 = 3
       |         THEN text || ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17 down'
       |       ELSE text END AS t
       |  FROM documents),
       |c AS (SELECT source,
       |  len(regexp_extract_all(t, '$email')) AS n_email,
       |  len(regexp_extract_all(regexp_replace(t, '$email', '<EMAIL>', 'g'),
       |      '$ipv4')) AS n_ipv4,
       |  len(regexp_extract_all(regexp_replace(regexp_replace(t,
       |      '$email', '<EMAIL>', 'g'), '$ipv4', '<IP>', 'g'),
       |      '$ssn')) AS n_ssn_like,
       |  len(regexp_extract_all(regexp_replace(regexp_replace(regexp_replace(t,
       |      '$email', '<EMAIL>', 'g'), '$ipv4', '<IP>', 'g'), '$ssn', '<ID>', 'g'),
       |      '$phone')) AS n_phone
       |  FROM p)
       |SELECT source, CAST(sum(n_email) AS BIGINT) AS n_email,
       |  CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
       |  CAST(sum(n_ssn_like) AS BIGINT) AS n_ssn_like,
       |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
       |  CAST(count(*) FILTER (n_email + n_ipv4 + n_ssn_like + n_phone > 0)
       |    AS BIGINT) AS n_pii_docs
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Vocabulary profiling: top-5 words per source by frequency (ties by
    * word) — explode + two-phase count (map-side partials) + windowed
    * top-k, the exact heavy-hitters baseline a sketch path would be
    * checked against.
    */
  private def q38(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Vocab.topKExact(tbl(spark, dir, "documents"), "source", "text", 5)
      .select(col("group").as("source"), col("rank"), col("word"), col("n"))
      .orderBy(col("source"), col("rank"))

  private val q38Sql =
    """WITH wc AS (
      |  SELECT source, w AS word, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |r AS (SELECT source, word, n,
      |        row_number() OVER (PARTITION BY source
      |                           ORDER BY n DESC, word) AS rank
      |      FROM wc)
      |SELECT source, CAST(rank AS BIGINT) AS rank, word, n
      |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  /** Duplicate-span detection ([[graft.ops.DupSpans]], the exact-substring
    * dedup family at 8-word-window granularity): maximal duplicated spans
    * per document, graded against the DuckDB window + gaps-and-islands
    * truth over the same rolling windows.
    */
  private def q39(spark: SparkSession, dir: String): DataFrame =
    graft.ops.DupSpans.dupSpans(tbl(spark, dir, "documents"),
        "text", "doc_id", windowWords = 8).value
      .orderBy(col("id"), col("span_start"))

  private val q39Sql =
    """WITH shl AS (SELECT doc_id, len(w) AS n_words,
      |    CASE WHEN len(w) < 8 THEN [text]
      |         ELSE [array_to_string(w[i:i+7], ' ')
      |               for i in range(1, len(w) - 6)] END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)),
      |win AS (SELECT doc_id, n_words,
      |    generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS h
      |  FROM shl),
      |dup AS (SELECT h FROM win GROUP BY h HAVING count(*) > 1),
      |flagged AS (SELECT doc_id, n_words, pos FROM win JOIN dup USING (h)),
      |isl AS (SELECT doc_id, n_words, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM flagged)
      |SELECT doc_id AS id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(least(count(*) + 7, max(n_words)) AS BIGINT) AS span_words
      |FROM isl GROUP BY doc_id, island
      |ORDER BY id, span_start""".stripMargin

  private val q21Sql = {
    val c = """round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              |      CAST(b.embedding AS DOUBLE[])), 6)""".stripMargin
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, $c AS cosine
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE $c >= 0.45
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Distributed JSON schema inference over events.props (the reference's
    * whole pipeline as one partition fold and a driver merge), flattened to one row per
    * top-level field so DuckDB's JSON functions can recompute it: seen /
    * failed counts, field count, per-field kind and int bounds.
    */
  private def q22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val props = tbl(spark, dir, "events").select(col("props").as[String])
    val res = JsonSchemaInference.infer(props, StrictMerge)
    val fields: Seq[(String, SchemaType)] = res.schema match {
      case Some(d: DocT) => d.fields.toSeq.sortBy(_._1)
      case Some(t)       => Seq("" -> t)
      case None          => Seq.empty
    }
    fields.map { case (name, t) =>
      val (mn, mx) = t match {
        case IntT(a, b) => (Some(a.toLong), Some(b.toLong))
        case _          => (None, None)
      }
      (res.seen, res.failed, fields.size.toLong, name, t.kind.name, mn, mx)
    }.toDF("n_seen", "n_failed", "n_fields", "field", "kind", "int_min", "int_max")
  }

  private val q22Sql =
    """WITH f AS (SELECT unnest(json_keys(props)) AS field, props FROM events),
      |per AS (SELECT field,
      |  CASE WHEN min(json_type(props, '$.' || field)) <>
      |            max(json_type(props, '$.' || field)) THEN 'union'
      |       ELSE CASE min(json_type(props, '$.' || field))
      |         WHEN 'UBIGINT' THEN 'int' WHEN 'BIGINT' THEN 'int'
      |         WHEN 'DOUBLE' THEN 'real' WHEN 'VARCHAR' THEN 'str'
      |         WHEN 'BOOLEAN' THEN 'bool' WHEN 'NULL' THEN 'null'
      |         WHEN 'OBJECT' THEN 'document' WHEN 'ARRAY' THEN 'collection'
      |       END END AS kind,
      |  min(TRY_CAST(json_extract_string(props, '$.' || field) AS BIGINT)) AS raw_min,
      |  max(TRY_CAST(json_extract_string(props, '$.' || field) AS BIGINT)) AS raw_max
      |  FROM f GROUP BY 1)
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_seen,
      |  (SELECT CAST(count(*) FILTER (NOT json_valid(props)) AS BIGINT) FROM events) AS n_failed,
      |  (SELECT CAST(count(*) AS BIGINT) FROM per) AS n_fields,
      |  field, kind,
      |  CAST(CASE WHEN kind = 'int' THEN raw_min END AS BIGINT) AS int_min,
      |  CAST(CASE WHEN kind = 'int' THEN raw_max END AS BIGINT) AS int_max
      |FROM per ORDER BY field""".stripMargin

  /** ANN via multi-probe RHP-LSH (probe all buckets within 3 flipped
    * bits of the query's), reranked exactly. Graded against the
    * brute-force top-k oracle: the probe settings achieve full recall of
    * the true top 10 on the graded corpus.
    */
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    Similarity.lshTopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id",
      query, k = 10, planes = 8, multiProbe = 3, seed = 8)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Multimodal feature extraction over a media table derived
    * deterministically from documents (bytes = UTF-8 text, all ASCII in
    * this corpus; every 97th payload nulled to exercise the corrupt
    * channel). The default decoder is [[Multimodal.ImageIoDecoder]]
    * (round-5): image-kind payloads go through the REAL javax.imageio
    * decode, and since no document text is a decodable image, every
    * image row deterministically lands in the error channel (ok=false,
    * n_bytes = payload length, null feature) — which the oracle asserts.
    * Audio/video still use FakeDecoder, whose lane sums are exact
    * integer folds, so the DuckDB oracle reproduces feature lane 0
    * bit-for-bit before rounding. (Real-pixel image decode is pinned in
    * OpsSpec against generated PNGs — not DuckDB-expressible.)
    */
  private def q24(spark: SparkSession, dir: String): DataFrame = {
    val media = tbl(spark, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      when(pmod(col("doc_id"), lit(97)) === 3, lit(null).cast("binary"))
        .otherwise(col("text").cast("binary")).as("bytes"))
    Multimodal.extractFeatures(media)
      .groupBy(col("kind"))
      .agg(count(lit(1)).cast("long").as("n"),
        count_if(!col("ok")).cast("long").as("n_corrupt"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        round(avg(element_at(col("feature"), 1)), 4).as("avg_f0"))
      .orderBy(col("kind"))
  }

  // CORPUS PRECONDITION (ADVICE r06): the oracle asserts every image and
  // audio row FAILS decode because payloads are text bytes — that relies
  // on no document text beginning with a container magic ('.snd',
  // 'RIFF', 'FORM', or an image magic). True for the generated corpus; a
  // regeneration that could emit such prefixes must re-validate q24 (the
  // Spark side would then legitimately decode what the oracle assumes
  // fails). The SQL is hash-frozen this round, so the precondition is
  // documented rather than asserted in-query.
  private val q24Sql =
    """WITH m AS (
      |  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |    -- null AND empty payloads are "absent" (n_bytes 0), so the
      |    -- oracle must treat degenerate texts like the planted nulls
      |    doc_id % 97 = 3 OR text IS NULL OR length(text) = 0 AS absent,
      |    text FROM documents),
      |feat AS (
      |  SELECT kind,
      |    -- image AND audio rows go through the REAL JDK decodes
      |    -- (javax.imageio / javax.sound.sampled); text bytes are never
      |    -- a decodable image or a RIFF/FORM/.snd audio container, so
      |    -- every such row fails (ok=false) — absent payloads with
      |    -- n_bytes 0, undecodable ones with n_bytes = payload length.
      |    -- Only video still rides the byte-lane stub.
      |    absent OR kind = 'image' OR kind = 'audio' AS failed,
      |    CASE WHEN absent OR kind = 'image' OR kind = 'audio' THEN NULL ELSE CAST(
      |      CAST(list_sum([ord(text[8*j+1])
      |                     for j in range(0, CAST(ceil(length(text) / 8.0) AS BIGINT))]) AS DOUBLE)
      |      / 255.0 / greatest(1, length(text) // 8) AS FLOAT)
      |    END AS f0,
      |    CASE WHEN absent THEN 0 ELSE length(text) END AS nb
      |  FROM m)
      |SELECT kind, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (failed) AS BIGINT) AS n_corrupt,
      |  CAST(sum(nb) AS BIGINT) AS total_bytes,
      |  round(avg(f0), 4) AS avg_f0
      |FROM feat GROUP BY 1 ORDER BY 1""".stripMargin

  /** ANN via an IVF coarse quantizer (bit-deterministic Lloyd-refined
    * centroids), probed + exactly reranked. Graded against the
    * brute-force top-k oracle: probing 8 of 16 cells achieves full
    * recall of the true top 10 on the graded corpus.
    */
  private def q30(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    Ivf.ivfTopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id",
      query, k = 10, nlist = 16, nProbe = 8, seed = 11)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Exact word-set Jaccard between adjacent doc ids — the oracle-checked
    * exact-similarity baseline behind the LSH candidate pipelines
    * (the rerank math of q19, SQL-expressible end-to-end).
    */
  private def q31(spark: SparkSession, dir: String): DataFrame = {
    val d = tbl(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("w"))
    val a = d.alias("a"); val b = d.alias("b")
    a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(size(array_intersect(col("a.w"), col("b.w"))) /
          size(array_union(col("a.w"), col("b.w"))).cast("double"), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"))
      .limit(10)
  }

  private val q31Sql =
    """WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
      |           FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) /
      |             len(list_distinct(list_concat(a.w, b.w))), 6) AS jaccard
      |FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
      |ORDER BY jaccard DESC, id_a LIMIT 10""".stripMargin

  /** Exact cosine similarity between adjacent embedding ids — oracle-
    * checked against DuckDB's list_cosine_similarity over DOUBLE[] (both
    * engines fold left-to-right in float64, so the rounded values agree
    * exactly; the raw FLOAT[] path would compare float32 artifacts).
    */
  private def q32(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val a = e.alias("a"); val b = e.alias("b")
    a.join(b, col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a"))
      .limit(20)
  }

  private val q32Sql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |ORDER BY cosine DESC, id_a LIMIT 20""".stripMargin

  /** Incremental near-duplicate mining ([[graft.ops.IncrementalDedup]]):
    * the corpus is split into a base (doc_id % 10 != 0) whose LSH
    * signature index is built once, and a batch (doc_id % 10 == 0) that
    * only PROBES it — (new x old) + (new x new) candidate pairs, never
    * old x old. Survivors are exact-Jaccard reranked like q19, so the
    * oracle is q19's brute-force all-pairs truth restricted to pairs
    * touching the batch: incremental mining must equal full mining on
    * exactly the pairs the batch could have introduced.
    */
  private val q40Banding = (3, 32, 16) // (shingleK, perms, bands)

  /** The persisted-index path of q40's corpus. Keyed by the corpus
    * CONTENT (canonical path + file length + mtime of documents.parquet),
    * not just the sf-dir basename — a regenerated corpus or a different
    * one with the same basename must never silently reuse a stale index —
    * AND by the banding params, so a param change can never reuse an
    * index built under different banding.
    */
  private[graft] def q40IndexDir(dir: String): String = {
    val (shingleK, perms, bands) = q40Banding
    val f = new java.io.File(s"$dir/documents.parquet")
    // String.hashCode is stable by the Java spec — deterministic across
    // JVMs, which is all a cache key needs
    val fp = java.lang.Integer.toHexString(
      s"${f.getCanonicalPath}|${f.length}|${f.lastModified}".hashCode)
    // v2: round-7 indexes carry the per-bucket count sidecar — version
    // the dir so a pre-sidecar index is rebuilt, not probed without it
    s"target/q40-idx-v2-${new java.io.File(dir).getName}-$fp" +
      s"-k${shingleK}p${perms}b$bands"
  }

  /** Build q40's base-corpus LSH index if this corpus doesn't already
    * have one; returns (index path, whether a build ran). Bench calls
    * this BEFORE its timed battery so the recorded q40 time measures the
    * PROBE — the actual per-batch operation — never a conflated one-time
    * index build (the round-3 reading mixed the two).
    */
  private[graft] def ensureQ40Index(spark: SparkSession, dir: String): (String, Boolean) = {
    val (shingleK, perms, bands) = q40Banding
    val idxDir = q40IndexDir(dir)
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writeIndex commits the index as its last step; an uncommitted dir
    // (a crashed build) is rebuilt
    val built = !graft.lineage.Commit.committed(fs, idxDir)
    if (built) {
      val base = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      graft.ops.IncrementalDedup.writeIndex(base, "text", "doc_id", idxDir,
        shingleK, perms, bands)
    }
    (idxDir, built)
  }

  private def q40(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val (shingleK, perms, bands) = q40Banding
    val (idxDir, _) = ensureQ40Index(spark, dir)
    val cands = graft.ops.IncrementalDedup.newDocCandidates(spark, batch,
      "text", "doc_id", idxDir, shingleK, perms, bands,
      minJaccard = 0.2).value
    rerankedPairs(docs, cands, 0.5)
  }

  private val q40Sql = shingleJaccardPairsSql(0.5,
    extraWhere = " AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)")

  /** Vocabulary top-k via the SKETCH path ([[graft.ops.Vocab.topKSketch]],
    * Misra-Gries heavy hitters — the 100-TB shape: one bounded buffer per
    * (partition, group) crosses the wire instead of the whole
    * distinct-(group, word) count table). With maxMapSize (4096) far above
    * the corpus vocabulary (~31 words/source) the sketch never purges, so
    * every estimate is the exact count and the head equals the exact
    * top-k — graded against the SAME SQL oracle as q38's exact path.
    * FreqSketchSpec keeps the purge-pressure (approximate-regime) cases.
    */
  private def q41(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Vocab.topKSketch(tbl(spark, dir, "documents"), "source", "text", 5)
      .select(col("group").as("source"), col("rank"), col("word"), col("n"))
      .orderBy(col("source"), col("rank"))

  /** Batch kNN over embeddings via multi-table RHP-LSH buckets
    * ([[Similarity.bucketedKnn]]): top-5 neighbors per vector among
    * cosine >= 0.45, graded against the brute-force all-pairs per-id
    * ranking. Blocking params (planes=4, tables=24, seed=7) are exactly
    * q21's, whose green all-pairs grading proves full recall of every
    * rounded-cosine >= 0.45 pair on this corpus; ranks then agree with
    * the oracle because any candidate outranking a >= 0.45 survivor has a
    * >= cosine and so is itself a recalled >= 0.45 pair (rounding is
    * monotonic). Both engines rank on the RAW cosine (bit-identical
    * float64 folds, the q32 parity) and threshold on the rounded value.
    */
  private def q42(spark: SparkSession, dir: String): DataFrame =
    // the handle is leaked on purpose: the query contract returns a lazy
    // frame, so it could not be closed here anyway — Bench/Verify
    // clearCache
    Similarity.bucketedKnn(tbl(spark, dir, "embeddings"),
        "embedding", "vec_id", k = 5, planes = 4, tables = 24, seed = 7L).value
      .select(col("id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy(col("id"), col("rank"))

  private val q42Sql = {
    val c = """list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
              |      CAST(b.embedding AS DOUBLE[]))""".stripMargin
    s"""WITH p AS (SELECT a.vec_id AS id, b.vec_id AS neighbor_id, $c AS sim
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE round($c, 6) >= 0.45),
       |r AS (SELECT id, neighbor_id, sim,
       |        row_number() OVER (PARTITION BY id
       |                           ORDER BY sim DESC, neighbor_id) AS rank
       |      FROM p)
       |SELECT id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       |       round(sim, 6) AS cosine
       |FROM r WHERE rank <= 5 ORDER BY id, rank""".stripMargin
  }

  /** Temperature-based source mixing ([[graft.ops.SourceMix]]): the
    * training-recipe sampler — keep an expected `target` rows with
    * per-source shares following sqrt(n_s), deterministically. The flat
    * per-source counts of the synthetic corpus are skewed into three
    * meta-sources (25/100/375 docs at the graded SF) so the quotas
    * actually differ; the mix key is the multiplicative hash (DuckDB
    * can't compute xxhash64) and every threshold is exact integer math,
    * so the oracle reproduces the kept SET bit-for-bit — the only
    * double ops on either side are IEEE-correctly-rounded sqrt/floor.
    */
  private def q43(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val meta = docs.withColumn("mix_source",
      when(col("source") === "src0", lit("a"))
        .when(col("source").isin("src1", "src2", "src3", "src4"), lit("b"))
        .otherwise(lit("c")))
    val target = docs.count() * 3 / 10
    graft.ops.SourceMix.temperatureSample(meta, "doc_id", "mix_source",
        target,
        Some(graft.ops.SourceMix.multiplicativeKey(col("doc_id"))))
      .select(col("doc_id"), col("mix_source"))
      .orderBy(col("mix_source"), col("doc_id"))
  }

  private val q43Sql =
    """WITH m AS (
      |  SELECT doc_id,
      |         CASE WHEN source = 'src0' THEN 'a'
      |              WHEN source IN ('src1','src2','src3','src4') THEN 'b'
      |              ELSE 'c' END AS mix_source
      |  FROM documents),
      |c AS (SELECT mix_source, CAST(count(*) AS BIGINT) AS n
      |      FROM m GROUP BY 1),
      |w AS (SELECT mix_source, n,
      |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS wgt
      |      FROM c),
      |t AS (SELECT (count(*) * 3) // 10 AS target FROM documents),
      |thr AS (SELECT w.mix_source,
      |          LEAST(CAST(1000000 AS BIGINT),
      |                (1000000 * t.target * w.wgt)
      |                // (CAST((SELECT sum(wgt) FROM w) AS BIGINT) * w.n))
      |            AS thr
      |        FROM w, t)
      |SELECT m.doc_id, m.mix_source
      |FROM m JOIN thr ON m.mix_source = thr.mix_source
      |WHERE (m.doc_id * 2654435761) % 1000000 < thr.thr
      |ORDER BY m.mix_source, m.doc_id""".stripMargin

  /** Leakage-free train/val split ([[graft.ops.Split]]): every document
    * assigned by hashing its near-dup cluster representative, so both
    * members of every reranked pair land on the same side (a plain
    * per-doc hash split would leak near-duplicate eval docs into train).
    * The pair mining and cluster truth are exactly q33's (whose oracle
    * parity is already graded); the split rule on top is pure integer
    * arithmetic on the representative, so DuckDB reproduces the
    * assignment bit-for-bit.
    */
  private def q44(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id",
      shingleK = 3, perms = 32, bands = 16, minJaccard = 0.2).value
    val pairs = rerankedPairs(docs, cands, 0.5).select(col("id_a"), col("id_b"))
    graft.ops.Split.leakFreeSplit(docs, "doc_id", pairs, valPermille = 200,
        key = graft.ops.Split.multiplicativeKey)
      .select(col("doc_id"), col("split_rep"), col("split"))
      .orderBy(col("doc_id"))
  }

  private val q44Sql = {
    val j = """round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        len(list_distinct(list_concat(a.sh, b.sh))), 6)""".stripMargin
    s"""WITH RECURSIVE s AS (SELECT doc_id,
       |  CASE WHEN len(w) < 3 THEN [text]
       |       ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                           for i in range(1, len(w) - 1)]) END AS sh
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $j >= 0.5),
       |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
       |lab AS (
       |  SELECT a AS id, comp FROM
       |    (SELECT a, b AS comp FROM e UNION SELECT a, a AS comp FROM e)
       |  UNION
       |  SELECT l.id, e2.b AS comp FROM lab l JOIN e e2 ON l.comp = e2.a),
       |comps AS (SELECT id, min(comp) AS component FROM lab GROUP BY id)
       |SELECT d.doc_id,
       |  COALESCE(c.component, d.doc_id) AS split_rep,
       |  CASE WHEN (COALESCE(c.component, d.doc_id) * 2654435761) % 1000 < 200
       |       THEN 'val' ELSE 'train' END AS split
       |FROM documents d LEFT JOIN comps c ON d.doc_id = c.id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Token-budget epoch planner ([[graft.ops.EpochPlan]]): per-source
    * repeat factors under a total token budget with sqrt-temperature
    * shares — the "epochs per source" op of a training recipe. The same
    * three meta-sources as q43; budget = the corpus's own token total,
    * so the small source plans >1 whole epoch and the dominant source
    * is fractionally subsampled, exercising both sides of the plan in
    * one grading. All math is exact integer (BigInt / HUGEINT) after
    * IEEE-exact sqrt/floor, so DuckDB reproduces the emitted multiset
    * bit-for-bit via generate_series.
    */
  private def q45(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val meta = docs.withColumn("mix_source",
      when(col("source") === "src0", lit("a"))
        .when(col("source").isin("src1", "src2", "src3", "src4"), lit("b"))
        .otherwise(lit("c")))
    val budget = docs.agg(sum(col("n_chars"))).head.getLong(0)
    graft.ops.EpochPlan.epochSample(meta, "doc_id", "mix_source",
        "n_chars", budget,
        Some(graft.ops.SourceMix.multiplicativeKey(col("doc_id"))))
      .select(col("doc_id"), col("mix_source"), col("epoch"))
      .orderBy(col("mix_source"), col("doc_id"), col("epoch"))
  }

  private val q45Sql =
    """WITH m AS (
      |  SELECT doc_id, n_chars,
      |         CASE WHEN source = 'src0' THEN 'a'
      |              WHEN source IN ('src1','src2','src3','src4') THEN 'b'
      |              ELSE 'c' END AS mix_source
      |  FROM documents),
      |c AS (SELECT mix_source, CAST(sum(n_chars) AS BIGINT) AS toks
      |      FROM m GROUP BY 1),
      |w AS (SELECT mix_source, toks,
      |        CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000) AS BIGINT) AS wgt
      |      FROM c),
      |b AS (SELECT CAST(sum(n_chars) AS BIGINT) AS budget FROM documents),
      |p AS (SELECT w.mix_source, w.toks,
      |        (b.budget * w.wgt) // (SELECT sum(wgt) FROM w) AS quota
      |      FROM w, b),
      |pl AS (SELECT mix_source, quota // toks AS base,
      |         (1000000 * (quota % toks)) // toks AS thr
      |       FROM p),
      |k AS (SELECT m.doc_id, m.mix_source,
      |        pl.base + CASE WHEN (m.doc_id * 2654435761) % 1000000 < pl.thr
      |                       THEN 1 ELSE 0 END AS n_copies
      |      FROM m JOIN pl USING (mix_source))
      |SELECT k.doc_id, k.mix_source, CAST(t.e AS BIGINT) AS epoch
      |FROM k, unnest(generate_series(1, CAST(k.n_copies AS BIGINT))) AS t(e)
      |ORDER BY mix_source, doc_id, epoch""".stripMargin

  /** Pairwise source-overlap matrix ([[graft.ops.SourceOverlap]]): the
    * corpus-diversity audit — Jaccard of distinct word-shingle sets for
    * every source pair that shares a shingle. Spark intersects 64-bit
    * shingle hashes (collision odds S^2/2^65, immaterial at any graded
    * scale); the oracle intersects the shingle strings themselves, so a
    * pass certifies the hash stand-in too. The oracle mirrors
    * ShingleHashes' <k-words whole-text fallback.
    */
  private def q46(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    graft.ops.SourceOverlap.overlapMatrix(docs, "text", "source",
        shingleK = 3).value
      .orderBy(col("source_a"), col("source_b"))
  }

  private val q46Sql =
    """WITH sh0 AS (
      |  SELECT source,
      |         CASE WHEN len(w) < 3 THEN [text]
      |              ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                                  for i in range(1, len(w) - 1)]) END AS shl
      |  FROM (SELECT source, text, string_split(text, ' ') AS w FROM documents)),
      |s AS (SELECT DISTINCT source, sh
      |      FROM (SELECT source, unnest(shl) AS sh FROM sh0)),
      |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
      |i AS (SELECT a.source AS source_a, b.source AS source_b,
      |             CAST(count(*) AS BIGINT) AS intersect_sh
      |      FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT i.source_a, i.source_b, i.intersect_sh,
      |       na.n + nb.n - i.intersect_sh AS union_sh,
      |       round(CAST(i.intersect_sh AS DOUBLE)
      |             / (na.n + nb.n - i.intersect_sh), 6) AS jaccard
      |FROM i JOIN n na ON i.source_a = na.source
      |       JOIN n nb ON i.source_b = nb.source
      |ORDER BY source_a, source_b""".stripMargin

  /** Deterministic training-order materialization
    * ([[graft.ops.TrainOrder]]): every document gets its global 0-based
    * position `ord` under a reproducible pseudo-random shuffle plus the
    * range `shard` it lands in — computed WITHOUT a global sort (range
    * buckets of the hash key + broadcast prefix offsets + per-shard
    * windows). The oracle computes the same rank the direct way — one
    * row_number over the whole order — so a pass certifies the
    * decomposition. Integer math only; the multiplicative key is the
    * DuckDB-computable stand-in for xxhash64.
    */
  private def q47(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    graft.ops.TrainOrder.trainOrder(docs, "doc_id", shards = 8,
        mixKey = Some(graft.ops.SourceMix.multiplicativeKey(col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("ord"))
      .orderBy(col("ord"))
  }

  private val q47Sql =
    """WITH k AS (SELECT doc_id,
      |             (doc_id * 2654435761) % 1000000 AS key
      |           FROM documents)
      |SELECT doc_id,
      |       CAST((key * 8) // 1000000 AS BIGINT) AS shard,
      |       CAST(row_number() OVER (ORDER BY key, doc_id) - 1 AS BIGINT)
      |         AS ord
      |FROM k
      |ORDER BY ord""".stripMargin

  /** Split-leakage audit ([[graft.ops.Split.leakageReport]]): count
    * near-dup pairs per (split_a, split_b) combination under BOTH the
    * leakage-free cluster split (q44's) and the naive per-document hash
    * split it replaces, in one report. The leak-free method's val/train
    * straddle count is zero by construction; the naive method's is not —
    * the audit makes the difference a graded number. Mining and
    * components are exactly q44's (already oracle-certified); the audit
    * on top is two id-keyed joins and a catalog-sized groupBy.
    */
  private def q48(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id",
      shingleK = 3, perms = 32, bands = 16, minJaccard = 0.2).value
    // the small pair-id set feeds three consumers (components + both
    // report joins): eagerly checkpoint it so downstream analysis never
    // re-embeds the mining tree (round-5 lesson)
    val pairs = rerankedPairs(docs, cands, 0.5)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val safe = graft.ops.Split.leakFreeSplit(docs, "doc_id", pairs,
      valPermille = 200, key = graft.ops.Split.multiplicativeKey)
    val naive = docs.withColumn("split",
      when(graft.ops.Split.multiplicativeKey(col("doc_id")) <
        lit(200L), lit("val")).otherwise(lit("train")))
    graft.ops.Split.leakageReport(safe, "doc_id", "split", pairs)
      .withColumn("method", lit("leakfree"))
      .unionByName(
        graft.ops.Split.leakageReport(naive, "doc_id", "split", pairs)
          .withColumn("method", lit("naive")))
      .select(col("method"), col("split_a"), col("split_b"), col("n_pairs"))
      .orderBy(col("method"), col("split_a"), col("split_b"))
  }

  private val q48Sql = {
    val j = """round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        len(list_distinct(list_concat(a.sh, b.sh))), 6)""".stripMargin
    s"""WITH RECURSIVE s AS (SELECT doc_id,
       |  CASE WHEN len(w) < 3 THEN [text]
       |       ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                           for i in range(1, len(w) - 1)]) END AS sh
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $j >= 0.5),
       |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
       |lab AS (
       |  SELECT a AS id, comp FROM
       |    (SELECT a, b AS comp FROM e UNION SELECT a, a AS comp FROM e)
       |  UNION
       |  SELECT l.id, e2.b AS comp FROM lab l JOIN e e2 ON l.comp = e2.a),
       |comps AS (SELECT id, min(comp) AS component FROM lab GROUP BY id),
       |assign AS (SELECT d.doc_id,
       |  CASE WHEN (COALESCE(c.component, d.doc_id) * 2654435761) % 1000 < 200
       |       THEN 'val' ELSE 'train' END AS lf,
       |  CASE WHEN (d.doc_id * 2654435761) % 1000 < 200
       |       THEN 'val' ELSE 'train' END AS nv
       |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.id),
       |r AS (
       |  SELECT 'leakfree' AS method,
       |         least(a.lf, b.lf) AS split_a, greatest(a.lf, b.lf) AS split_b
       |  FROM p JOIN assign a ON p.id_a = a.doc_id
       |         JOIN assign b ON p.id_b = b.doc_id
       |  UNION ALL
       |  SELECT 'naive', least(a.nv, b.nv), greatest(a.nv, b.nv)
       |  FROM p JOIN assign a ON p.id_a = a.doc_id
       |         JOIN assign b ON p.id_b = b.doc_id)
       |SELECT method, split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM r GROUP BY 1, 2, 3
       |ORDER BY method, split_a, split_b""".stripMargin
  }

  /** Corpus snapshot diff ([[graft.ops.CorpusDiff]]): added / removed /
    * changed documents between two snapshots, unchanged excluded — the
    * dataset-versioning audit a pipeline iteration produces. The
    * "after" snapshot is derived deterministically in BOTH engines
    * (drop doc_id % 11 == 0, append " v2" to doc_id % 7 == 0, add
    * doc_id % 13 == 0 back under id + 1000000), so the classification
    * is exact. Spark compares 128-bit content keys (text never enters
    * the join exchange); the oracle compares the strings themselves,
    * certifying the hash stand-in.
    */
  private def q49(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val before = docs.select(col("doc_id"), col("text"))
    val after = docs.filter(pmod(col("doc_id"), lit(11L)) =!= 0L)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7L)) === 0L,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(13L)) === 0L)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
    graft.ops.CorpusDiff.diff(before, after, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  private val q49Sql =
    """WITH b AS (SELECT doc_id, text FROM documents),
      |a AS (SELECT doc_id,
      |        CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      |      FROM documents WHERE doc_id % 11 != 0
      |      UNION ALL
      |      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 13 = 0)
      |SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
      |       CASE WHEN b.doc_id IS NULL THEN 'added'
      |            WHEN a.doc_id IS NULL THEN 'removed'
      |            ELSE 'changed' END AS status
      |FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id
      |WHERE b.doc_id IS NULL OR a.doc_id IS NULL OR b.text != a.text
      |ORDER BY doc_id""".stripMargin

  /** Exact-substring dedup APPLIED end to end ([[graft.ops.DupSpans]]
    * keep-first + cut — the Lee et al. transformation, not just the
    * span report q39 grades): every duplicated 8-word window's
    * globally-first occurrence survives, all later copies are cut from
    * their documents, and the rewritten corpus itself is graded. Spark
    * decides on 64-bit window hashes (text never enters the stats
    * exchange); the oracle re-derives spans from the window TEXT and
    * rebuilds each document with string_agg, certifying both the hash
    * stand-in and the native [[graft.ops.CutSpans]] rewrite. Documents
    * that lose every word (later copies of whole-doc duplicates) must
    * come back as the empty string, not vanish; a NULL text passes
    * through as NULL on both sides (no windows to mine, nothing to cut
    * — '' would misreport "everything was duplicated").
    */
  private def q50(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val toCut = graft.ops.DupSpans.dupSpansKeepFirst(
      docs, "text", "doc_id", windowWords = 8).value
    graft.ops.DupSpans.cutSpans(docs, "text", "doc_id", toCut)
      .select(col("doc_id").as("id"), col("text_cut"))
      .orderBy(col("id"))
  }

  private val q50Sql =
    """WITH shl AS (SELECT doc_id, len(w) AS n_words,
      |    CASE WHEN len(w) < 8 THEN [text]
      |         ELSE [array_to_string(w[i:i+7], ' ')
      |               for i in range(1, len(w) - 6)] END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)),
      |win AS (SELECT doc_id, n_words,
      |    generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS h
      |  FROM shl),
      |flagged AS (SELECT doc_id, n_words, pos FROM (
      |    SELECT doc_id, n_words, pos,
      |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |    FROM win) WHERE rn > 1),
      |isl AS (SELECT doc_id, n_words, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM flagged),
      |spans AS (SELECT doc_id, min(pos) AS span_start,
      |    least(count(*) + 7, max(n_words)) AS span_words
      |  FROM isl GROUP BY doc_id, island),
      |words AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS widx,
      |    unnest(w) AS word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      |kept AS (SELECT * FROM words wd WHERE NOT EXISTS (
      |    SELECT 1 FROM spans s WHERE s.doc_id = wd.doc_id
      |      AND wd.widx >= s.span_start
      |      AND wd.widx < s.span_start + s.span_words)),
      |rebuilt AS (SELECT doc_id, string_agg(word, ' ' ORDER BY widx) AS t
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id AS id,
      |  CASE WHEN d.text IS NULL THEN NULL
      |       ELSE coalesce(r.t, '') END AS text_cut
      |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
      |ORDER BY id""".stripMargin

  /** Boilerplate inventory ([[graft.ops.DupSpans.boilerplate]]): every
    * 8-word window occurring >= 3 times corpus-wide, with occurrence
    * count, distinct-doc count, and the window TEXT reconstructed from
    * its first occurrence — the audit read before choosing q39/q50's
    * `maxWindowDf` cap. Spark mines on 64-bit hashes and reconstructs
    * text by slicing the first occurrence's document; the oracle groups
    * by the window text itself, so a pass certifies both the hash
    * stand-in and the slice reconstruction.
    */
  private def q51(spark: SparkSession, dir: String): DataFrame =
    graft.ops.DupSpans.boilerplate(tbl(spark, dir, "documents"),
        "text", "doc_id", windowWords = 8, minDf = 3L)
      .orderBy(col("df").desc, col("window_text"))

  private val q51Sql =
    """WITH shl AS (SELECT doc_id, len(w) AS n_words,
      |    CASE WHEN len(w) < 8 THEN [text]
      |         ELSE [array_to_string(w[i:i+7], ' ')
      |               for i in range(1, len(w) - 6)] END AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w
      |        FROM documents)),
      |win AS (SELECT doc_id,
      |    generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS h
      |  FROM shl)
      |SELECT h AS window_text, CAST(count(*) AS BIGINT) AS df,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM win GROUP BY h HAVING count(*) >= 3
      |ORDER BY df DESC, window_text""".stripMargin

  /** Per-source adaptive quality calibration
    * ([[graft.ops.Calibration]]): each source's own bottom-decile length
    * threshold, read EXACTLY off the (source, n_chars) histogram — one
    * map-side-partial groupBy then catalog-sized windows, no corpus-row
    * window anywhere. Grades the full report (threshold + n_docs +
    * n_kept per source); ties at the threshold are kept by contract.
    */
  private def q52(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Calibration.thresholdReport(tbl(spark, dir, "documents"),
        "source", "n_chars", p = 0.1)
      .withColumnRenamed("group", "source")
      .orderBy(col("source"))

  private val q52Sql =
    """WITH hist AS (SELECT source, n_chars AS score, count(*) AS c
      |  FROM documents
      |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY 1, 2),
      |cum AS (SELECT source, score, c,
      |    sum(c) OVER (PARTITION BY source ORDER BY score) AS cum,
      |    sum(c) OVER (PARTITION BY source) AS n
      |  FROM hist),
      |thr AS (SELECT source, score, cum, c, n,
      |    row_number() OVER (PARTITION BY source ORDER BY score) AS rn
      |  FROM cum WHERE cum >= ceil(0.1 * n))
      |SELECT source, CAST(score AS BIGINT) AS threshold,
      |  CAST(n AS BIGINT) AS n_docs,
      |  CAST(n - cum + c AS BIGINT) AS n_kept
      |FROM thr WHERE rn = 1 ORDER BY source""".stripMargin

  /** Exact Kolmogorov-Smirnov drift over binned lengths (q10's PSI
    * companion, [[graft.stats.Drift.ksCounts]] semantics distributed):
    * max |CDF_en - CDF_fr| over the shared 13-bin grid. Deterministic —
    * unlike the validator's sketch-based KS readout (which is only
    * verdict-gradeable), the exact binned statistic hash-grades. The
    * cumulative window runs over the BINS frame (13 rows), never the
    * corpus. An EMPTY side (either one) reads 0, matching
    * [[graft.stats.Drift.ksCounts]]'s contract exactly.
    */
  private def q53(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    def binned(lang: String, cn: String) = docs
      .filter(col("lang") === lang)
      .groupBy(least(floor(col("n_chars") / 50), lit(12L)).as("bin"))
      .agg(count(lit(1)).as(cn))
    val joined = spark.range(0, 13).select(col("id").as("bin"))
      .join(binned("en", "cnt_a"), Seq("bin"), "left")
      .join(binned("fr", "cnt_b"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
    joined
      .withColumn("ca", sum(col("cnt_a")).over(w))
      .withColumn("cb", sum(col("cnt_b")).over(w))
      .crossJoin(joined.agg(sum("cnt_a").as("tot_a"),
        sum("cnt_b").as("tot_b")))
      // an EMPTY side reads 0 — ksCounts' contract: drift against
      // nothing is unmeasurable, and without the guard the empty side's
      // flat-zero CDF would read ks = 1.0. The CASE also short-circuits
      // the 0-denominator double division, whose hazard here is NaN
      // ranking greatest inside max(), not an ANSI throw (long/long
      // promotes to double division)
      .agg(round(max(when(col("tot_a") === 0 || col("tot_b") === 0,
          lit(0.0))
        .otherwise(abs(col("ca") / col("tot_a") -
          col("cb") / col("tot_b")))), 6).as("ks"))
  }

  private val q53Sql =
    """WITH bins AS (SELECT unnest(generate_series(0, 12)) AS bin),
      |a AS (SELECT least(CAST(floor(n_chars / 50) AS BIGINT), 12) AS bin, count(*) AS cnt
      |      FROM documents WHERE lang = 'en' GROUP BY 1),
      |b AS (SELECT least(CAST(floor(n_chars / 50) AS BIGINT), 12) AS bin, count(*) AS cnt
      |      FROM documents WHERE lang = 'fr' GROUP BY 1),
      |j AS (SELECT bins.bin, coalesce(a.cnt, 0) AS cnt_a, coalesce(b.cnt, 0) AS cnt_b
      |      FROM bins LEFT JOIN a ON bins.bin = a.bin LEFT JOIN b ON bins.bin = b.bin),
      |c AS (SELECT bin,
      |        sum(cnt_a) OVER (ORDER BY bin) AS ca,
      |        sum(cnt_b) OVER (ORDER BY bin) AS cb
      |      FROM j),
      |t AS (SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b FROM j)
      |SELECT round(max(CASE WHEN tot_a = 0 OR tot_b = 0 THEN 0.0
      |    ELSE abs(ca * 1.0 / tot_a - cb * 1.0 / tot_b) END), 6) AS ks
      |FROM c, t""".stripMargin

  /** Sliding-window chunking ([[graft.ops.Chunking]]): documents split
    * into 32-word context chunks at stride 24 with a right-aligned
    * final chunk (full-width convention — no orphaned sliver the
    * previous chunk already contains). The whole rewritten chunk set is
    * graded; integer start arithmetic reproduces bit-for-bit in DuckDB.
    */
  private def q54(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Chunking.chunk(tbl(spark, dir, "documents"),
        "text", "doc_id", chunkWords = 32, strideWords = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val q54Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |k AS (SELECT doc_id, w, n,
      |    unnest(generate_series(0,
      |      greatest(0, CAST(floor((n - 32 + 24 - 1) * 1.0 / 24) AS BIGINT))))
      |      AS chunk_idx
      |  FROM d),
      |c AS (SELECT doc_id, chunk_idx,
      |    greatest(0, least(chunk_idx * 24, n - 32)) AS s, n, w
      |  FROM k)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(least(32, n - s) AS BIGINT) AS n_chunk_words,
      |  array_to_string(w[s + 1 : s + 32], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** BPE subword tokenizer end-to-end ([[graft.ops.Bpe]]): train 24
    * merges on the corpus word counts, then grade every document's
    * ENCODED TOKEN-ID SEQUENCE bit-for-bit (the q50 lesson — grade the
    * transformation, not a report about it). The oracle replays training
    * exactly: one chained-CTE block per merge round (pair counts over the
    * distinct-word table -> argmax with the (count DESC, left, right)
    * tie-break -> left-to-right non-overlapping replace via the
    * doubled-separator `|l||r|` encoding), then derives ids (sorted base
    * chars, merge r = nBase + r) and re-segments every document. A pass
    * certifies the merge table, the apply semantics, and the id
    * assignment in one grading.
    */
  private def q55(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").filter(col("text").isNotNull)
    val model = graft.ops.Bpe.train(docs, "text", numMerges = Q55Merges)
    docs.select(col("doc_id"),
        graft.ops.Bpe.encode(col("text"), model).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        array_join(transform(col("toks"), t => t.cast("string")), "-")
          .as("tok_ids"))
      .orderBy(col("doc_id"))
  }

  private val Q55Merges = 24

  /** Generated chained-CTE training replay: recursive CTEs cannot
    * aggregate over the recursive reference (each round needs a global
    * argmax), so the fixed merge count unrolls into `Q55Merges` CTE
    * blocks instead. `MATERIALIZED` is load-bearing: s{r} is referenced
    * twice (pair counts and the next round), and inlining would blow up
    * 2^rounds.
    */
  /** The CTE chain (through `tok`) shared by q55 and q60: BPE training
    * replay (one chained block per merge round) + per-document
    * re-segmentation to token ids. No leading WITH — q55 prefixes plain
    * `WITH`, q60 `WITH RECURSIVE` (its packing fold recurses).
    *
    * CORPUS PRECONDITION (ADVICE r06): the replay encodes segmentations
    * as '|sym1||sym2|...' — a corpus word containing a literal '|' would
    * wrap to '|||' and make the replace-based merge replay ambiguous
    * (silent divergence from the Spark side, which has no such
    * limitation). The graded corpus generator emits no '|' characters;
    * any regeneration that could must re-validate q55/q60 or strip '|'
    * in the w CTE. (The SQL itself is hash-frozen this round, so the
    * precondition is documented rather than asserted in-query.)
    */
  private val q55Chain: String = {
    val head =
      """w AS MATERIALIZED (SELECT w AS word, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE text IS NOT NULL)
        |  WHERE w <> '' GROUP BY 1),
        |s0 AS MATERIALIZED (SELECT word, c,
        |    '|' || array_to_string(list_transform(range(1, len(word) + 1), i -> word[i]), '||') || '|' AS seg
        |  FROM w)""".stripMargin
    val rounds = (0 until Q55Merges).map { r =>
      s"""p$r AS (SELECT pr.l AS l, pr.r AS r, sum(c) AS pc FROM (
         |    SELECT c, unnest(list_transform(range(1, len(sy)), i -> struct_pack(l := sy[i], r := sy[i+1]))) AS pr
         |    FROM (SELECT c, string_split(substr(seg, 2, len(seg) - 2), '||') AS sy FROM s$r)) GROUP BY 1, 2),
         |b$r AS (SELECT l, r FROM p$r ORDER BY pc DESC, l, r LIMIT 1),
         |s${r + 1} AS MATERIALIZED (SELECT word, c, replace(seg, '|' || b.l || '||' || b.r || '|', '|' || b.l || b.r || '|') AS seg FROM s$r, b$r b)""".stripMargin
    }
    val mergeUnion = (0 until Q55Merges)
      .map(r => s"SELECT $r AS rank, l, r FROM b$r").mkString(" UNION ALL ")
    val tail =
      s"""mg AS ($mergeUnion),
         |base AS (SELECT DISTINCT unnest(list_transform(range(1, len(word) + 1), i -> word[i])) AS sym FROM w),
         |basev AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INT) AS id FROM base),
         |vocab AS (SELECT sym, min(id) AS id FROM (
         |    SELECT sym, id FROM basev
         |    UNION ALL SELECT l || r AS sym, CAST((SELECT count(*) FROM basev) + rank AS INT) AS id FROM mg)
         |  GROUP BY 1),
         |docw AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos, unnest(ws) AS word FROM (
         |    SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL)),
         |sub AS (SELECT doc_id, wpos, generate_subscripts(sy, 1) AS spos, unnest(sy) AS sym FROM (
         |    SELECT d.doc_id, d.wpos, string_split(substr(s.seg, 2, len(s.seg) - 2), '||') AS sy
         |    FROM docw d JOIN s$Q55Merges s ON d.word = s.word)),
         |tok AS (SELECT doc_id, wpos, spos, v.id FROM sub JOIN vocab v USING (sym))""".stripMargin
    (head +: rounds :+ tail).mkString(",\n")
  }

  /** LEFT JOIN from the doc set: a non-null text with no words (all
    * spaces) encodes to ZERO tokens — the Spark side still emits its
    * (n_tok=0, tok_ids='') row, so the oracle must not drop the doc
    * just because `tok` holds no rows for it (review finding, round 6;
    * q60's fold guards the same case with its coalesce).
    */
  private val q55Sql: String =
    s"""WITH $q55Chain,
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |    string_agg(id, '-' ORDER BY wpos, spos) AS tok_ids
       |  FROM tok GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_tok, 0) AS n_tok,
       |  coalesce(a.tok_ids, '') AS tok_ids
       |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Token-budget greedy packing under the SAME trained tokenizer q55
    * grades — the [[graft.ops.Bpe]] x [[graft.ops.Packing]] composition
    * `Pipeline.Config.packBpeMerges` ships: every pack item weighs
    * `size(Bpe.encode(text))`, budget [[Q60Budget]] tokens, (source,
    * id-range bucket) packing key exactly as q35. The oracle chains the
    * q55 training replay into q35's recursive greedy fold, so one query
    * certifies the tokenizer, the token counts, AND the packing
    * decisions together.
    */
  private def q60(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").filter(col("text").isNotNull)
    val model = graft.ops.Bpe.train(docs, "text", numMerges = Q55Merges)
    val (src, bucket) = graft.ops.Packing.parseBucketKey(col("group"))
    graft.ops.Packing.packGreedy(
        docs.select(col("source"), col("doc_id"),
            size(graft.ops.Bpe.encode(col("text"), model)).cast("long").as("len"))
          .withColumn("grp",
            graft.ops.Packing.bucketKey(col("source"), col("doc_id"), 100L)),
        "grp", "doc_id", "len", budget = Q60Budget)
      .select(src.as("source"), bucket.as("bucket"),
        col("pack_id"), col("n_seqs"),
        col("total_len").as("total_tok"),
        array_min(col("seq_ids")).as("min_id"),
        array_max(col("seq_ids")).as("max_id"))
      .orderBy(col("source"), col("bucket"), col("pack_id"))
  }

  private val Q60Budget = 512

  /** The q55 replay chain + q35's recursive greedy fold, over TOKEN
    * counts. `ntok`/`d2` are MATERIALIZED — the recursive member
    * references `d2` every round, and an inlined reference would re-run
    * the whole 24-round training replay per recursion step (the
    * round-6 exponential-inlining lesson, one level up).
    */
  private val q60Sql: String =
    s"""WITH RECURSIVE $q55Chain,
       |ntok AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1),
       |d2 AS MATERIALIZED (
       |  SELECT dd.source, CAST(dd.doc_id // 100 AS BIGINT) AS bucket, dd.doc_id,
       |    coalesce(n.n_tok, 0) AS n_tok,
       |    row_number() OVER (PARTITION BY dd.source, dd.doc_id // 100
       |                       ORDER BY dd.doc_id) AS rn
       |  FROM documents dd LEFT JOIN ntok n USING (doc_id)
       |  WHERE dd.text IS NOT NULL),
       |g AS (
       |  SELECT source, bucket, rn, doc_id, n_tok AS len,
       |         CAST(0 AS BIGINT) AS pack_id, n_tok AS acc
       |  FROM d2 WHERE rn = 1
       |  UNION ALL
       |  SELECT d2.source, d2.bucket, d2.rn, d2.doc_id, d2.n_tok,
       |    CASE WHEN g.acc >= $Q60Budget OR g.acc + d2.n_tok > $Q60Budget
       |         THEN g.pack_id + 1 ELSE g.pack_id END,
       |    CASE WHEN g.acc >= $Q60Budget OR g.acc + d2.n_tok > $Q60Budget
       |         THEN d2.n_tok ELSE g.acc + d2.n_tok END
       |  FROM g JOIN d2 ON d2.source = g.source AND d2.bucket = g.bucket
       |               AND d2.rn = g.rn + 1)
       |SELECT source, bucket, pack_id, CAST(count(*) AS BIGINT) AS n_seqs,
       |  CAST(sum(len) AS BIGINT) AS total_tok,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM g GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Real audio decode ([[graft.ops.Multimodal.AudioWavDecoder]] —
    * `javax.sound.sampled`, in the JDK, no sound device): every document
    * becomes a synthesized 8-bit PCM WAV whose samples are the text's
    * US_ASCII bytes — one byte per CODEPOINT, '?' (63) replacing each
    * non-ASCII codepoint — so DuckDB replays every decoded statistic
    * exactly from a per-codepoint ord() walk on any corpus; every 97th
    * payload is absent (n_bytes 0) and every 89th
    * is the raw text (no RIFF magic -> deterministic decode failure with
    * n_bytes = payload length) — the two error-channel flavors graded
    * apart. Sample rate varies by doc (8/12/16 kHz) to grade the
    * integer-division duration lane.
    */
  private def q56(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = tbl(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val media = docs.as[(Long, String)].map { case (id, text) =>
      val bytes =
        if (id % 97 == 3) null
        else if (id % 89 == 7) text.getBytes("UTF-8")
        // WAV samples: US_ASCII bytes — exactly ONE byte per CODEPOINT
        // ('?' = 63 replaces each non-ASCII codepoint), so the DuckDB
        // oracle's per-codepoint ord(text[i]) walk counts and values the
        // same samples on any corpus (UTF-8 would emit 2-4 bytes per
        // non-ASCII codepoint the oracle cannot see; round-6 review)
        else Multimodal.wavFromBytes(
          text.getBytes(java.nio.charset.StandardCharsets.US_ASCII),
          (8000 + (id % 3) * 4000).toInt)
      (id, "audio", bytes)
    }.toDF("media_id", "kind", "bytes")
    Multimodal.extractAudioFeatures(media)
      .select(col("media_id"), col("ok"),
        col("n_bytes").cast("long").as("n_bytes"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_samples"), col("duration_ms"),
        col("peak").cast("long").as("peak"), col("clip"), col("sum_abs"),
        round(when(col("n_samples") > 0,
            sqrt(col("sum_sq").cast("double") / col("n_samples")))
          .otherwise(lit(0.0)), 6).as("rms"))
      .orderBy(col("media_id"))
  }

  private val q56Sql =
    """WITH d AS (SELECT doc_id, text, strlen(text) AS nb, len(text) AS na,
      |    CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sr,
      |    doc_id % 97 = 3 AS absent,
      |    doc_id % 97 <> 3 AND doc_id % 89 = 7 AS rawtext
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (SELECT doc_id,
      |    unnest(list_transform(range(1, len(text) + 1),
      |      i -> CASE WHEN ord(text[i]) > 127 THEN 63 ELSE ord(text[i]) END)) AS v
      |  FROM d WHERE NOT absent AND NOT rawtext),
      |a AS (SELECT doc_id, count(*) AS n,
      |    max(abs(v - 128)) AS peak,
      |    sum(CASE WHEN v = 0 OR v = 255 THEN 1 ELSE 0 END) AS clip,
      |    sum(abs(v - 128)) AS sum_abs,
      |    sum(CAST((v - 128) * (v - 128) AS BIGINT)) AS sum_sq
      |  FROM s GROUP BY 1)
      |SELECT d.doc_id AS media_id,
      |  NOT (absent OR rawtext) AS ok,
      |  CAST(CASE WHEN absent THEN 0 WHEN rawtext THEN nb ELSE 44 + na END AS BIGINT) AS n_bytes,
      |  CAST(CASE WHEN absent OR rawtext THEN 0 ELSE sr END AS BIGINT) AS sample_rate,
      |  CAST(CASE WHEN absent OR rawtext THEN 0 ELSE 1 END AS BIGINT) AS channels,
      |  CAST(coalesce(CASE WHEN absent OR rawtext THEN 0 ELSE a.n END, 0) AS BIGINT) AS n_samples,
      |  CAST(coalesce(CASE WHEN absent OR rawtext THEN 0 ELSE a.n * 1000 // sr END, 0) AS BIGINT) AS duration_ms,
      |  CAST(coalesce(CASE WHEN absent OR rawtext THEN 0 ELSE a.peak END, 0) AS BIGINT) AS peak,
      |  CAST(coalesce(CASE WHEN absent OR rawtext THEN 0 ELSE a.clip END, 0) AS BIGINT) AS clip,
      |  CAST(coalesce(CASE WHEN absent OR rawtext THEN 0 ELSE a.sum_abs END, 0) AS BIGINT) AS sum_abs,
      |  coalesce(CASE WHEN absent OR rawtext OR a.n IS NULL OR a.n = 0 THEN 0.0
      |    ELSE round(sqrt(a.sum_sq * 1.0 / a.n), 6) END, 0.0) AS rms
      |FROM d LEFT JOIN a ON d.doc_id = a.doc_id
      |ORDER BY media_id""".stripMargin

  /** CCNet-style LM quality scoring ([[graft.ops.NgramLm]]): an add-one
    * bigram LM trained on the `lang = 'en'` reference slice scores every
    * document's mean negative log-likelihood. Counts are exact integers
    * and every probability is a ratio of integers, so DuckDB reproduces
    * `round(nll, 6)` (IEEE division is correctly rounded; ln agrees well
    * inside the 1e-6 grading precision).
    */
  private def q57(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val model = graft.ops.NgramLm.train(docs.filter(col("lang") === "en"), "text")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), graft.ops.NgramLm.stats(col("text"), model).as("s"))
      .select(col("doc_id"),
        col("s.n_tok").cast("long").as("n_tok"),
        col("s.n_oov").cast("long").as("n_oov"),
        round(when(col("s.n_tok") === 0, lit(0.0))
          .otherwise(-col("s.ll") / col("s.n_tok")), 6).as("nll"))
      .orderBy(col("doc_id"))
  }

  private val q57Sql =
    """WITH tr AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS wl
      |  FROM documents WHERE lang = 'en' AND text IS NOT NULL),
      |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(wl) AS w FROM tr) GROUP BY 1),
      |cn AS (SELECT coalesce(sum(c), 0) AS n, count(*) + 1 AS v FROM uni),
      |bi AS (SELECT pr.p AS p, pr.w AS w, count(*) AS c FROM (
      |    SELECT unnest(list_transform(range(1, len(wl)), i -> struct_pack(p := wl[i], w := wl[i+1]))) AS pr
      |    FROM tr WHERE len(wl) >= 2) GROUP BY 1, 2),
      |d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wl
      |  FROM documents WHERE text IS NOT NULL),
      |dw AS (SELECT doc_id, i, wl[i] AS w,
      |    CASE WHEN i = 1 THEN NULL ELSE wl[i - 1] END AS p
      |  FROM (SELECT doc_id, wl, unnest(range(1, len(wl) + 1)) AS i FROM d)),
      |term AS (SELECT dw.doc_id,
      |    CASE WHEN u.c IS NULL THEN 1 ELSE 0 END AS oov,
      |    CASE WHEN dw.p IS NULL THEN ln((coalesce(u.c, 0) + 1.0) / (cn.n + cn.v))
      |         ELSE ln((coalesce(b.c, 0) + 1.0) / (coalesce(up.c, 0) + cn.v)) END AS t
      |  FROM dw
      |  LEFT JOIN uni u ON dw.w = u.w
      |  LEFT JOIN uni up ON dw.p = up.w
      |  LEFT JOIN bi b ON dw.p = b.p AND dw.w = b.w
      |  CROSS JOIN cn),
      |agg AS (SELECT doc_id, count(*) AS n_tok, sum(oov) AS n_oov, sum(t) AS ll
      |  FROM term GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(a.n_tok, 0) AS BIGINT) AS n_tok,
      |  CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov,
      |  coalesce(round(-a.ll / a.n_tok, 6), 0.0) AS nll
      |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Model-based language ID ([[graft.ops.CtLangId]], Cavnar-Trenkle
    * rank-order char-trigram profiles): profiles trained from the corpus'
    * own (lang, text) labels, every document classified by out-of-place
    * rank distance — all integer arithmetic, replayed exactly in DuckDB.
    * The stopword heuristic (q12's langId) stays as the label-less
    * fallback; this is the trained path.
    */
  private def q58(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents").filter(col("text").isNotNull)
    val profiles = graft.ops.CtLangId.trainProfiles(docs, "text", "lang")
    docs.select(col("doc_id"), col("lang"),
        graft.ops.CtLangId.classify(
          graft.ops.CtLangId.profile(col("text")), profiles).as("pred"))
      .orderBy(col("doc_id"))
  }

  private val q58Sql =
    """WITH lc AS (SELECT lang, g, count(*) AS c FROM (
      |    SELECT lang, unnest(list_transform(range(1, len(text) - 1), i -> text[i:i+2])) AS g
      |    FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL AND len(text) >= 3)
      |  GROUP BY 1, 2),
      |lp AS (SELECT lang, g, r FROM (
      |    SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) - 1 AS r
      |    FROM lc) WHERE r < 20),
      |dgc AS (SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(text) - 1), i -> text[i:i+2])) AS g
      |    FROM documents WHERE text IS NOT NULL AND len(text) >= 3)
      |  GROUP BY 1, 2),
      |dp AS (SELECT doc_id, g, r FROM (
      |    SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) - 1 AS r
      |    FROM dgc) WHERE r < 20),
      |dist AS (SELECT dp.doc_id, l.lang,
      |    sum(CASE WHEN lp.r IS NULL THEN 20 ELSE abs(dp.r - lp.r) END) AS d
      |  FROM dp CROSS JOIN (SELECT DISTINCT lang FROM lp) l
      |  LEFT JOIN lp ON lp.lang = l.lang AND lp.g = dp.g
      |  GROUP BY 1, 2),
      |pr AS (SELECT doc_id, lang AS pred FROM (
      |    SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id ORDER BY d, lang) AS rn
      |    FROM dist) WHERE rn = 1)
      |SELECT d.doc_id, d.lang, coalesce(p.pred, 'und') AS pred
      |FROM (SELECT doc_id, lang FROM documents WHERE text IS NOT NULL) d
      |LEFT JOIN pr p USING (doc_id) ORDER BY doc_id""".stripMargin

  /** URL/domain hygiene ([[graft.ops.UrlOps]]): messy URLs synthesized
    * deterministically from (doc_id, source) — mixed-case scheme/host,
    * www., default and explicit ports, tracking params, fragments, a
    * two-level ccTLD flavor — then canonicalized and domain-split by the
    * native expressions and blocklist-flagged. The oracle replays the
    * canonicalization GENERICALLY over the url string with DuckDB
    * string/list ops (not from the construction recipe), so the rules
    * themselves are graded; the whole rewritten set is the result (q50
    * lesson).
    */
  private def q59(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val url = concat(
      when(pmod(d, lit(2)) === 0, lit("HTTP")).otherwise(lit("HTTPS")),
      lit("://WWW."), upper(col("source")),
      when(pmod(d, lit(5)) === 0, lit(".CO.UK")).otherwise(lit(".COM")),
      when(pmod(d, lit(3)) === 0,
          when(pmod(d, lit(2)) === 0, lit(":80")).otherwise(lit(":443")))
        .when(pmod(d, lit(3)) === 1, lit(":8080")).otherwise(lit("")),
      when(pmod(d, lit(17)) === 2, lit("")) // path-less: query follows host
        .otherwise(concat(lit("/Docs/"), pmod(d, lit(7)).cast("string"))),
      when(pmod(d, lit(11)) === 5, lit(""))
        .otherwise(concat(lit("?utm_source=feed&id="), d.cast("string"),
          lit("&fbclid=abc&ref=tw&q=OK"))),
      when(pmod(d, lit(13)) === 4, lit("#Sec2")).otherwise(lit("")))
    val canon = graft.ops.UrlOps.canonicalizeUrl(col("url"))
    tbl(spark, dir, "documents").filter(col("source").isNotNull)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), canon.as("canon"),
        graft.ops.UrlOps.registrableDomain(canon).as("domain"))
      .withColumn("blocked", col("domain").isin("src3.com", "src7.co.uk"))
      .orderBy(col("doc_id"))
  }

  private val q59Sql =
    """WITH u AS (SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END) || '://WWW.' ||
      |    upper(source) || (CASE WHEN doc_id % 5 = 0 THEN '.CO.UK' ELSE '.COM' END) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
      |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
      |    (CASE WHEN doc_id % 17 = 2 THEN '' ELSE '/Docs/' || CAST(doc_id % 7 AS VARCHAR) END) ||
      |    (CASE WHEN doc_id % 11 = 5 THEN ''
      |          ELSE '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc&ref=tw&q=OK' END) ||
      |    (CASE WHEN doc_id % 13 = 4 THEN '#Sec2' ELSE '' END) AS url
      |  FROM documents WHERE source IS NOT NULL),
      |c1 AS (SELECT doc_id, split_part(trim(url), '#', 1) AS s FROM u),
      |c2 AS (SELECT doc_id, contains(s, '://') AS hs,
      |    CASE WHEN contains(s, '://') THEN lower(split_part(s, '://', 1)) ELSE '' END AS scheme,
      |    CASE WHEN contains(s, '://') THEN substr(s, strpos(s, '://') + 3) ELSE s END AS rest
      |  FROM c1),
      |c3a AS (SELECT doc_id, hs, scheme, rest,
      |    CASE WHEN strpos(rest, '/') > 0 AND strpos(rest, '?') > 0
      |         THEN least(strpos(rest, '/'), strpos(rest, '?'))
      |         WHEN strpos(rest, '/') > 0 THEN strpos(rest, '/')
      |         ELSE strpos(rest, '?') END AS cut
      |  FROM c2),
      |c3 AS (SELECT doc_id, hs, scheme,
      |    CASE WHEN cut > 0 THEN left(rest, cut - 1) ELSE rest END AS auth0,
      |    CASE WHEN cut > 0 THEN substr(rest, cut) ELSE '' END AS pathq
      |  FROM c3a),
      |c4 AS (SELECT doc_id, hs, scheme, pathq,
      |    CASE WHEN starts_with(lower(auth0), 'www.') THEN substr(lower(auth0), 5) ELSE lower(auth0) END AS h1
      |  FROM c3),
      |c5 AS (SELECT doc_id, hs, scheme, pathq,
      |    CASE WHEN scheme = 'http' AND ends_with(h1, ':80') THEN left(h1, len(h1) - 3)
      |         WHEN scheme = 'https' AND ends_with(h1, ':443') THEN left(h1, len(h1) - 4)
      |         ELSE h1 END AS host
      |  FROM c4),
      |c6 AS (SELECT doc_id, hs, scheme, host,
      |    CASE WHEN contains(pathq, '?') THEN left(pathq, strpos(pathq, '?') - 1) ELSE pathq END AS path,
      |    CASE WHEN contains(pathq, '?') THEN substr(pathq, strpos(pathq, '?') + 1) ELSE '' END AS query
      |  FROM c5),
      |c7 AS (SELECT doc_id, hs, scheme, host, path,
      |    CASE WHEN query = '' THEN CAST([] AS VARCHAR[])
      |         ELSE list_filter(string_split(query, '&'), p ->
      |           NOT (starts_with(split_part(p, '=', 1), 'utm_') OR
      |                split_part(p, '=', 1) IN ('gclid', 'fbclid', 'msclkid', 'ref'))) END AS kept
      |  FROM c6),
      |canon AS (SELECT doc_id,
      |    (CASE WHEN hs THEN scheme || '://' ELSE '' END) || host || path ||
      |    (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END) AS canon,
      |    host FROM c7),
      |dom AS (SELECT doc_id, canon,
      |    CASE WHEN len(ls) < 2 THEN hp
      |         WHEN (ls[-2] || '.' || ls[-1]) IN ('co.uk', 'ac.uk', 'com.au', 'co.jp')
      |           THEN (CASE WHEN len(ls) >= 3 THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1] ELSE hp END)
      |         ELSE ls[-2] || '.' || ls[-1] END AS domain
      |  FROM (SELECT doc_id, canon,
      |      string_split(CASE WHEN contains(host, ':') THEN left(host, strpos(host, ':') - 1) ELSE host END, '.') AS ls,
      |      CASE WHEN contains(host, ':') THEN left(host, strpos(host, ':') - 1) ELSE host END AS hp
      |    FROM canon))
      |SELECT doc_id, canon, domain, domain IN ('src3.com', 'src7.co.uk') AS blocked
      |FROM dom ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- table

  val defs: Seq[(String, QueryDef)] = Seq(
    "q01_colstats"        -> QueryDef(q01, Some(q01Sql)),
    "q02_agg_pricing"     -> QueryDef(q02, Some(q02Sql)),
    "q03_dup_keys"        -> QueryDef(q03, Some(q03Sql)),
    "q04_referential"     -> QueryDef(q04, Some(q04Sql)),
    "q05_rowcheck"        -> QueryDef(q05, Some(q05Sql)),
    "q06_strlen_stats"    -> QueryDef(q06, Some(q06Sql)),
    "q07_dedup_exact"     -> QueryDef(q07, Some(q07Sql)),
    "q08_topk_window"     -> QueryDef(q08, Some(q08Sql)),
    "q09_quantiles"       -> QueryDef(q09, Some(q09Sql)),
    "q10_drift_psi"       -> QueryDef(q10, Some(q10Sql)),
    "q11_token_count"     -> QueryDef(q11, Some(q11Sql)),
    "q12_quality_ratios"  -> QueryDef(q12, Some(q12Sql)),
    "q13_stopword_profile"-> QueryDef(q13, Some(q13Sql)),
    "q14_fingerprint"     -> QueryDef(q14, Some(q14Sql)),
    "q15_knn_brute"       -> QueryDef(q15, Some(bruteTopKSql)),
    "q16_events_daily"    -> QueryDef(q16, Some(q16Sql)),
    "q17_join_revenue"    -> QueryDef(q17, Some(q17Sql)),
    "q18_region_rollup"   -> QueryDef(q18, Some(q18Sql)),
    "q25_rollup_subtotals"-> QueryDef(q25, Some(q25Sql)),
    "q26_semi_anti_join"  -> QueryDef(q26, Some(q26Sql)),
    "q27_sessionize_batch"-> QueryDef(q27, Some(q27Sql)),
    "q28_json_extract"    -> QueryDef(q28, Some(q28Sql)),
    "q29_set_ops"         -> QueryDef(q29, Some(q29Sql)),
    "q19_minhash_lsh"     -> QueryDef(q19, Some(q19Sql)),
    "q20_simhash"         -> QueryDef(q20, Some(q20Sql)),
    "q21_embed_neardup"   -> QueryDef(q21, Some(q21Sql)),
    "q22_schema_infer"    -> QueryDef(q22, Some(q22Sql)),
    "q23_ann_lsh"         -> QueryDef(q23, Some(bruteTopKSql)),
    "q24_media_features"  -> QueryDef(q24, Some(q24Sql)),
    "q30_ann_ivf"         -> QueryDef(q30, Some(bruteTopKSql)),
    "q31_word_jaccard"    -> QueryDef(q31, Some(q31Sql)),
    "q32_embed_cosine"    -> QueryDef(q32, Some(q32Sql)),
    "q33_dedup_clusters"  -> QueryDef(q33, Some(q33Sql)),
    "q34_decontaminate"   -> QueryDef(q34, Some(q34Sql)),
    "q35_seq_packing"     -> QueryDef(q35, Some(q35Sql)),
    "q36_quality_filter"  -> QueryDef(q36, Some(q36Sql)),
    "q37_pii_redaction"   -> QueryDef(q37, Some(q37Sql)),
    "q38_top_words"       -> QueryDef(q38, Some(q38Sql)),
    "q39_dup_spans"       -> QueryDef(q39, Some(q39Sql)),
    "q40_incremental_dedup" -> QueryDef(q40, Some(q40Sql)),
    "q41_top_words_sketch" -> QueryDef(q41, Some(q38Sql)),
    "q42_batch_knn"        -> QueryDef(q42, Some(q42Sql)),
    "q43_source_mix"       -> QueryDef(q43, Some(q43Sql)),
    "q44_leakfree_split"   -> QueryDef(q44, Some(q44Sql)),
    "q45_epoch_plan"       -> QueryDef(q45, Some(q45Sql)),
    "q46_source_overlap"   -> QueryDef(q46, Some(q46Sql)),
    "q47_train_order"      -> QueryDef(q47, Some(q47Sql)),
    "q48_split_audit"      -> QueryDef(q48, Some(q48Sql)),
    "q49_corpus_diff"      -> QueryDef(q49, Some(q49Sql)),
    "q50_dedup_cut"        -> QueryDef(q50, Some(q50Sql)),
    "q51_boilerplate"      -> QueryDef(q51, Some(q51Sql)),
    "q52_calibration"      -> QueryDef(q52, Some(q52Sql)),
    "q53_drift_ks"         -> QueryDef(q53, Some(q53Sql)),
    "q54_chunking"         -> QueryDef(q54, Some(q54Sql)),
    "q55_bpe_tokenizer"    -> QueryDef(q55, Some(q55Sql)),
    "q56_audio_decode"     -> QueryDef(q56, Some(q56Sql)),
    "q57_lm_perplexity"    -> QueryDef(q57, Some(q57Sql)),
    "q58_langid_ct"        -> QueryDef(q58, Some(q58Sql)),
    "q59_url_canon"        -> QueryDef(q59, Some(q59Sql)),
    "q60_token_packing"    -> QueryDef(q60, Some(q60Sql))
  )
}
