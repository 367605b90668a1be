package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** URL canonicalization + registrable-domain pins (the q59 rules), and
  * the column path agreeing with the driver-side walks.
  */
class UrlOpsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("canonicalization rules, one by one") {
    val c = UrlOps.canonical _
    // scheme + host lowercase, www strip, default port strip, fragment drop
    assert(c("HTTP://WWW.Example.COM:80/Path/A#frag") == "http://example.com/Path/A")
    assert(c("https://www.Example.com:443/x") == "https://example.com/x")
    // non-default ports survive; path case survives
    assert(c("http://Example.com:8080/CaseSensitive") ==
      "http://example.com:8080/CaseSensitive")
    // :443 is only default for https (and :80 only for http)
    assert(c("http://a.com:443/x") == "http://a.com:443/x")
    // tracking params drop by NAME; survivor order preserved; values untouched
    assert(c("http://a.com/p?utm_source=x&id=7&fbclid=z&q=OK&ref=tw") ==
      "http://a.com/p?id=7&q=OK")
    // fully-tracked query drops its '?'
    assert(c("http://a.com/p?utm_a=1&utm_b=2&gclid=x") == "http://a.com/p")
    // bare tracking name without '=' also drops; empty query stays dropped
    assert(c("http://a.com/p?ref&id=1") == "http://a.com/p?id=1")
    assert(c("http://a.com/p?") == "http://a.com/p")
    // no scheme: host-first parse, no '://' reattached
    assert(c("WWW.A.com/X?utm_k=1") == "a.com/X")
    // no path at all
    assert(c("HTTPS://B.ORG") == "https://b.org")
    // path-less QUERY: the authority ends at '?', not just '/' — the
    // query must not fold into the host (where it would be lowercased
    // and escape tracking removal; round-6 review finding)
    assert(c("http://Example.com?utm_source=X&id=AbC") ==
      "http://example.com?id=AbC")
    assert(c("HTTPS://WWW.B.ORG:443?gclid=1") == "https://b.org")
    // whitespace trim
    assert(c("  http://a.com/x  ") == "http://a.com/x")
  }

  test("registrable domain: two-level suffixes, unknown TLDs, bare suffixes, ports") {
    val d = UrlOps.regDomain _
    assert(d("http://a.b.example.com/x") == "example.com")
    assert(d("http://deep.sub.site.co.uk/x") == "site.co.uk")
    assert(d("site.co.uk") == "site.co.uk") // exactly label+suffix
    assert(d("co.uk") == "co.uk")           // bare 2-label suffix
    assert(d("http://x.example.zz/p") == "example.zz") // unknown TLD: last two
    assert(d("localhost") == "localhost")   // single label
    assert(d("http://example.com:8080/x") == "example.com") // port ignored
  }

  test("column path == driver path; blocklist keeps NULL urls") {
    val urls = Seq(
      (1L, "HTTP://WWW.SpamCo.COM:80/a?utm_x=1&id=1"),
      (2L, "https://news.site.co.uk/b#frag"),
      (3L, "http://www.good.org/c?ref=x"),
      (4L, null.asInstanceOf[String]),
      (5L, "http://other.SpamCo.com/d")).toDF("doc_id", "url")
    val got = urls.filter(col("url").isNotNull)
      .select(col("doc_id"), UrlOps.canonicalizeUrl(col("url")).as("c"),
        UrlOps.registrableDomain(UrlOps.canonicalizeUrl(col("url"))).as("dm"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    for ((id, u) <- Seq(1L -> "HTTP://WWW.SpamCo.COM:80/a?utm_x=1&id=1",
        2L -> "https://news.site.co.uk/b#frag", 3L -> "http://www.good.org/c?ref=x",
        5L -> "http://other.SpamCo.com/d")) {
      val c = UrlOps.canonical(u)
      assert(got(id) == ((c, UrlOps.regDomain(c))), s"doc $id")
    }

    val kept = UrlOps.filterBlocked(urls, "url", Seq("spamco.com"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L), s"NULL url must survive the blocklist: $kept")
  }

  test("Pipeline urlBlocklist knob gates before quality; missing column refuses") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = Seq(
      (1L, base + " one", "s1", "http://www.keep.com/a"),
      (2L, base + " two", "s1", "HTTP://Spam.COM:80/x"),
      (3L, "completely different words about mountains and snow and wind today",
        "s2", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "source", "url")
    val res = Pipeline.run(docs, Pipeline.Config(urlBlocklist = Seq("spam.com")))
    val kept = res.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), kept)
    res.unpersist()

    val e = intercept[IllegalArgumentException] {
      Pipeline.run(docs.drop("url"),
        Pipeline.Config(urlBlocklist = Seq("spam.com")))
    }
    assert(e.getMessage.contains("url"), e.getMessage)
  }
}
