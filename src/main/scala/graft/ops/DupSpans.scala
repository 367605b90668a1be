package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-span detection — the exact-substring family of corpus dedup
  * (Lee et al., "Deduplicating Training Data Makes Language Models
  * Better"), at word-window granularity: find every maximal run of
  * consecutive L-word windows whose content occurs more than once in the
  * corpus, and report it as a (doc, start, length) span. Downstream
  * pipelines cut or down-weight the spans instead of dropping whole
  * documents.
  *
  * Execution shape: one pass derives every document's rolling L-window
  * hashes WITH positions (posexplode over the single-walk ShingleHashes),
  * persisted narrow (16-byte rows). Per-hash occurrence stats come from a
  * `groupBy(h)` — map-side PARTIAL aggregation collapses each partition's
  * copies of a hot hash to one row before the exchange, so a boilerplate
  * window occurring 10^8 times ships per-partition counts, not 10^8 rows
  * into one partition (a `Window.partitionBy(h)` count — the round-2
  * shape — pinned exactly that straggler). The flagged positions come
  * from joining the stats back (1 stats row x N occurrences; AQE
  * skew-join splits the hot hash's partition — a window can never be
  * split). Consecutive flagged positions merge into maximal spans with
  * the classic gaps-and-islands trick (pos - row_number() is constant
  * within a run) — a per-document window, never a global sort. Text
  * itself never crosses the wire. 64-bit window-hash collisions can in
  * principle glue two different spans (~n²/2⁶⁴); exactness-critical uses
  * re-verify span text.
  */
object DupSpans {

  /** Per-hash stats over the persisted windows frame: occurrence count
    * and (only when the keep-first variant needs it) the globally-first
    * occurrence — both map-side-partial-aggregable. The plain dupSpans
    * path skips the ordered-struct min: it would ride the shuffle just
    * to be dropped.
    */
  private def hashStats(windows: DataFrame, needFirst: Boolean): DataFrame = {
    val aggs =
      if (needFirst) Seq(count(lit(1)).as("__df"),
        min(struct(col("id"), col("pos"))).as("__first"))
      else Seq(count(lit(1)).as("__df"))
    windows.groupBy(col("h"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("__df") > 1)
  }

  private def islands(flagged: DataFrame, windowWords: Int): DataFrame = {
    // gaps and islands: consecutive positions share (pos - row_number)
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    flagged
      .withColumn("island", col("pos") - row_number().over(byDoc))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        // clamp: the short-text fallback's single window stands for the
        // whole (shorter-than-L) document, not L words
        least(count(lit(1)) + lit(windowWords - 1),
          max(col("n_words"))).cast("long").as("span_words"))
      .select(col("id"), col("span_start"), col("span_words"))
  }

  /** The split count of a scan-rooted frame (projections and filters over
    * one file scan), read from its physical plan without executing it;
    * None for any other frame. `df.rdd` would instead run the upstream
    * stages under AQE at plan time.
    */
  private def scanSplits(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.sparkPlan
    val scanRooted = plan.find {
      case _: ProjectExec | _: FilterExec | _: FileSourceScanExec => false
      case _ => true
    }.isEmpty
    if (scanRooted) plan.collectFirst { case s: FileSourceScanExec => s.inputRDD.getNumPartitions }
    else None
  }

  private[graft] def windowsOf(df: DataFrame, textCol: String, idCol: String,
                               windowWords: Int, materialize: Boolean): Cached[DataFrame] = {
    // unsplittable-input fan-out (guide §2.5): a corpus that arrives as
    // one sub-split file would run the whole window walk in ONE task;
    // when the scan plans fewer partitions than the session's default
    // parallelism, round-robin repartition first. No-op at warehouse
    // scale (scans plan >= cores splits) and for frames that are not
    // scan-rooted; results are partition-order invariant here (counts /
    // min / max / min-struct aggregates only).
    // SPARK_GRAFT_FANOUT=0 disables (A/B lever).
    val target = df.sparkSession.sparkContext.defaultParallelism
    val wide =
      if (!sys.env.get("SPARK_GRAFT_FANOUT").contains("0") &&
          scanSplits(df).exists(_ < target)) df.repartition(target)
      else df
    val w = wide.select(col(idCol).as("id"),
      size(split(col(textCol), " ")).as("n_words"),
      posexplode(TextOps.shingles(col(textCol), windowWords))
        .as(Seq("pos", "h")))
    if (materialize) {
      val p = w.persist(StorageLevel.MEMORY_AND_DISK)
      Cached(p, Seq(p))
    } else Cached(w)
  }

  /** (id, span_start, span_words) — maximal duplicated spans, where
    * span_start is the 0-based word offset and span_words the span length
    * in words (a run of k consecutive duplicated L-windows covers
    * k + L - 1 words, clamped to the document's word count). Windows
    * shorter than L words hash the whole text (ShingleHashes fallback), so
    * exact whole-doc duplicates shorter than L still surface — as spans of
    * the DOCUMENT's length, not the window's. `idCol` must be unique per
    * row: duplicate ids would interleave two texts' positions in one
    * islands partition and glue bogus spans.
    *
    * Returns a [[Cached]] handle: the windows frame is persisted so one
    * shingle pass feeds both the stats aggregate and the join back —
    * `close()` it after consuming the spans.
    */
  def dupSpansH(df: DataFrame, textCol: String, idCol: String,
                windowWords: Int = 8,
                materialize: Boolean = true): Cached[DataFrame] = {
    val windows = windowsOf(df, textCol, idCol, windowWords, materialize)
    val flagged = windows.value
      .join(hashStats(windows.value, needFirst = false), "h")
      .select(col("id"), col("n_words"), col("pos"))
    windows.copy(value = islands(flagged, windowWords))
  }

  /** Session-cache variant of [[dupSpansH]] (the persisted windows table
    * stays cached until `spark.catalog.clearCache()`).
    */
  def dupSpans(df: DataFrame, textCol: String, idCol: String,
               windowWords: Int = 8): DataFrame =
    dupSpansH(df, textCol, idCol, windowWords).value

  /** Spans to CUT under keep-first semantics: like [[dupSpans]], but each
    * duplicated window's globally-first occurrence (minimum (id, pos)) is
    * exempt — cutting the returned spans removes repeated content while
    * one copy survives somewhere in the corpus, the Lee et al.
    * transformation. Overlap caveat inherent to window granularity: a
    * kept-first window may share words with a cut span of a DIFFERENT
    * duplicated window; spans are maximal over cut-flagged window starts.
    *
    * `maxWindowDf`: windows occurring in more than this many positions
    * corpus-wide are boilerplate (license headers, nav bars) — they are
    * flagged at EVERY occurrence, first included (cap-and-flag-whole-
    * island: a mega-hot window is exactly the content substring dedup
    * exists to cut; exempting one "first" of 10^8 copies is noise). The
    * default (unbounded) keeps strict keep-first semantics everywhere.
    */
  def dupSpansKeepFirstH(df: DataFrame, textCol: String, idCol: String,
                         windowWords: Int = 8,
                         maxWindowDf: Long = Long.MaxValue,
                         materialize: Boolean = true): Cached[DataFrame] = {
    val windows = windowsOf(df, textCol, idCol, windowWords, materialize)
    val flagged = windows.value
      .join(hashStats(windows.value, needFirst = true), "h")
      .filter(col("__df") > lit(maxWindowDf) ||
        !(col("__first.id") === col("id") && col("__first.pos") === col("pos")))
      .select(col("id"), col("n_words"), col("pos"))
    windows.copy(value = islands(flagged, windowWords))
  }

  /** Session-cache variant of [[dupSpansKeepFirstH]]. */
  def dupSpansKeepFirst(df: DataFrame, textCol: String, idCol: String,
                        windowWords: Int = 8,
                        maxWindowDf: Long = Long.MaxValue): DataFrame =
    dupSpansKeepFirstH(df, textCol, idCol, windowWords, maxWindowDf).value

  /** Boilerplate inventory — the audit report a pipeline operator reads
    * BEFORE choosing [[dupSpansKeepFirstH]]'s `maxWindowDf` cap: every
    * L-word window occurring at least `minDf` times corpus-wide, with
    * its occurrence count, distinct-document count (within-doc loops and
    * cross-doc boilerplate read very differently), and the window's TEXT
    * reconstructed from its globally-first occurrence. One shingle pass;
    * per-hash stats are a map-side-partial `groupBy` (`count(distinct
    * id)` pre-groups on (h, id), so a 10^8-copy window still ships
    * per-partition partials); the reconstruction join touches only the
    * hot sliver (rows ~ boilerplate inventory size, AQE-broadcast
    * against the corpus scan), and the slice is computed map-side —
    * text meets an exchange only if a pathological corpus (most windows
    * >= minDf) defeats the broadcast, and then it ships once. Short-doc
    * fallback windows (< L words) reconstruct as the whole text,
    * mirroring what they hash.
    */
  def boilerplate(df: DataFrame, textCol: String, idCol: String,
                  windowWords: Int = 8, minDf: Long = 3L): DataFrame = {
    val windows = windowsOf(df, textCol, idCol, windowWords,
      materialize = false)
    val hot = windows.value.groupBy(col("h"))
      .agg(count(lit(1)).as("df"),
        countDistinct(col("id")).as("n_docs"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("df") >= minDf)
    hot.join(df.select(col(idCol).as("__bid"), col(textCol).as("__btext")),
        col("__first.id") === col("__bid"))
      .select(array_join(slice(split(col("__btext"), " "),
          col("__first.pos") + lit(1), lit(windowWords)), " ")
          .as("window_text"),
        col("df"), col("n_docs"))
  }

  private def cutSpansNative(text: Column, spans: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      CutSpans(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(spans)))

  /** Rewrite texts with the given spans removed: every word whose 0-based
    * position falls inside any of the document's (span_start, span_words)
    * ranges is dropped; documents without spans pass through untouched.
    * Composable with [[dupSpansKeepFirst]] for keep-first substring dedup.
    * The cut itself is the native one-walk [[CutSpans]] expression
    * (bit-identical to [[cutSpansComposed]], pinned by CutSpansSpec).
    */
  def cutSpans(df: DataFrame, textCol: String, idCol: String,
               spans: DataFrame): DataFrame =
    cutSpansWith(df, textCol, idCol, spans, cutSpansNative)

  /** The composed-builtins twin of the native cut — the semantic
    * definition (interpreted lambda per word x span); kept live as
    * CutSpansSpec's oracle.
    */
  private[graft] def cutSpansComposed(df: DataFrame, textCol: String,
                                      idCol: String, spans: DataFrame): DataFrame =
    cutSpansWith(df, textCol, idCol, spans, (text, sp) =>
      concat_ws(" ", filter(split(text, " "), (w, i) =>
        !exists(sp, s =>
          i.cast("long") >= s.getField("span_start") &&
            i.cast("long") < s.getField("span_start") + s.getField("span_words")))))

  private def cutSpansWith(df: DataFrame, textCol: String, idCol: String,
                           spans: DataFrame,
                           cut: (Column, Column) => Column): DataFrame = {
    // reserved key name: a caller whose idCol is itself "id" (or whose df
    // already has an "id" column) must not collide with the spans frame
    val byDoc = spans.groupBy(col("id"))
      .agg(collect_list(struct(col("span_start"), col("span_words")))
        .as("__spans"))
      .withColumnRenamed("id", "__span_doc_id")
    df.join(byDoc, col(idCol) === col("__span_doc_id"), "left")
      .drop("__span_doc_id")
      .withColumn(s"${textCol}_cut",
        when(col("__spans").isNull, col(textCol))
          .otherwise(cut(col(textCol), col("__spans"))))
      .drop("__spans")
  }
}
