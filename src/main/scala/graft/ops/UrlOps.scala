package graft.ops

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** URL/domain hygiene — the standard pre-dedup stage of every web corpus
  * (canonicalize -> registrable domain -> per-domain stats -> blocklist).
  * Pure deterministic string walks as codegen'd native expressions; the
  * q59 oracle replays both transforms generically with DuckDB list/string
  * ops (not from the construction recipe), so the rules below are pinned
  * cross-engine.
  *
  * Canonicalization rules ([[CanonUrl]], in order):
  *   1. trim; drop the fragment (first '#' onward);
  *   2. scheme (before "://", when present) lowercased;
  *   3. authority (up to the first '/') lowercased, a leading "www."
  *      stripped, the scheme's default port stripped (":80" for http,
  *      ":443" for https);
  *   4. query parameters whose NAME (before '=') is a tracking name
  *      (gclid, fbclid, msclkid, ref) or starts with "utm_" are removed,
  *      survivor order preserved; an emptied query drops its '?';
  *   5. path and surviving query values are untouched (case matters
  *      there).
  *
  * Registrable domain ([[RegDomain]]): last label + public suffix, with
  * a two-tier suffix table standing in for the public-suffix list (the
  * real list is a broadcast table swap — same shape, ~10k entries):
  * two-label suffixes first (co.uk, ac.uk), then one-label; an unknown
  * TLD falls back to the last two labels; a bare suffix returns itself.
  * Ports are ignored for domain purposes.
  */
object UrlOps {

  /** Query-parameter names removed outright (plus any `utm_*`). */
  val TrackingNames: Set[String] = Set("gclid", "fbclid", "msclkid", "ref")

  /** Two-label public suffixes (checked first), then one-label. */
  val Suffixes2: Set[String] = Set("co.uk", "ac.uk", "com.au", "co.jp")
  val Suffixes1: Set[String] = Set("com", "org", "net", "io", "de", "fr", "uk")

  def canonicalizeUrl(url: Column): Column =
    ColumnBridge.column(CanonUrl(ColumnBridge.expression(url)))

  /** Registrable domain of a CANONICAL url (or bare host). */
  def registrableDomain(url: Column): Column =
    ColumnBridge.column(RegDomain(ColumnBridge.expression(url)))

  /** Drop rows whose registrable domain is blocklisted (the list is a
    * literal IN — at blocklist scale it becomes a broadcast anti-join,
    * same plan shape as the eval-source filters). NULL urls pass: no
    * domain to judge — an upstream policy decides those, and a silent
    * NULL-predicate drop here would be the q-class EqualTo trap.
    */
  def filterBlocked(df: DataFrame, urlCol: String,
                    blocklist: Seq[String]): DataFrame =
    if (blocklist.isEmpty) df
    else df.filter(col(urlCol).isNull ||
      !registrableDomain(canonicalizeUrl(col(urlCol))).isin(blocklist: _*))

  // ------------------------------------------------------- driver-side core

  def canonical(s0: String): String = {
    var s = s0.trim
    val h = s.indexOf('#')
    if (h >= 0) s = s.substring(0, h)
    val si = s.indexOf("://")
    val scheme = if (si >= 0) s.substring(0, si).toLowerCase(Locale.ROOT) else ""
    val rest = if (si >= 0) s.substring(si + 3) else s
    // the authority ends at the first '/' OR '?': a path-less query URL
    // ("http://a.com?x=1") must not fold its query into the host, where
    // it would be lowercased and escape tracking-param removal
    val slash = rest.indexOf('/')
    val qmark = rest.indexOf('?')
    val cut =
      if (slash < 0) qmark
      else if (qmark < 0) slash
      else math.min(slash, qmark)
    val auth0 = if (cut >= 0) rest.substring(0, cut) else rest
    val pathq = if (cut >= 0) rest.substring(cut) else ""
    var host = auth0.toLowerCase(Locale.ROOT)
    if (host.startsWith("www.")) host = host.substring(4)
    if (scheme == "http" && host.endsWith(":80"))
      host = host.substring(0, host.length - 3)
    else if (scheme == "https" && host.endsWith(":443"))
      host = host.substring(0, host.length - 4)
    val qi = pathq.indexOf('?')
    val path = if (qi >= 0) pathq.substring(0, qi) else pathq
    val query = if (qi >= 0) pathq.substring(qi + 1) else ""
    val kept =
      if (query.isEmpty) Array.empty[String]
      else query.split("&", -1).filterNot { p =>
        val e = p.indexOf('=')
        val name = if (e >= 0) p.substring(0, e) else p
        name.startsWith("utm_") || TrackingNames.contains(name)
      }
    val sb = new java.lang.StringBuilder
    if (si >= 0) sb.append(scheme).append("://")
    sb.append(host).append(path)
    if (kept.nonEmpty) sb.append('?').append(kept.mkString("&"))
    sb.toString
  }

  def regDomain(url: String): String = {
    // host = canonical-url authority minus scheme/path/port
    val si = url.indexOf("://")
    val rest = if (si >= 0) url.substring(si + 3) else url
    val slash = rest.indexOf('/')
    var host = if (slash >= 0) rest.substring(0, slash) else rest
    val qi = host.indexOf('?')
    if (qi >= 0) host = host.substring(0, qi)
    val ci = host.indexOf(':')
    if (ci >= 0) host = host.substring(0, ci)
    val ls = host.split("\\.", -1)
    val nl = ls.length
    if (nl < 2) return host
    val suf2 = ls(nl - 2) + "." + ls(nl - 1)
    if (Suffixes2.contains(suf2)) {
      if (nl >= 3) ls(nl - 3) + "." + suf2 else host
    } else suf2 // one-label suffix (known or unknown TLD): last two labels
    // Suffixes1 documents the one-label tier of the PSL stand-in; only
    // the two-label tier changes the label count, so swapping in the
    // real public-suffix list means replacing Suffixes2 (and adding
    // longer tiers), not branching on Suffixes1
  }
}

/** Native canonicalization (rules in [[UrlOps]]' scaladoc). */
case class CanonUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a STRING argument, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    CanonUrl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.CanonUrl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CanonUrl =
    copy(child = newChild)
  override def prettyName: String = "canon_url"
}

object CanonUrl {
  def compute(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlOps.canonical(url.toString))
}

/** Native registrable-domain extraction (suffix tables in [[UrlOps]]). */
case class RegDomain(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a STRING argument, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    RegDomain.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.RegDomain.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RegDomain =
    copy(child = newChild)
  override def prettyName: String = "reg_domain"
}

object RegDomain {
  def compute(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlOps.regDomain(url.toString))
}
