package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UrlNormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: (Long, String)*): Map[Long, Option[String]] =
    urls.toDF("id", "u")
      .select(col("id"), UrlNormalize.canonicalUrl(col("u"),
        lit("base.example")).as("c"))
      .as[(Long, Option[String])].collect().toMap

  test("canonical form: case, default ports, fragments, empty path") {
    val got = canon(
      (1L, "HTTP://EXAMPLE.COM:80/Path/Page#frag"),
      (2L, "https://a.example:443/x"),
      (3L, "https://a.example:8443/x"), // non-default port stays
      (4L, "https://a.example"),        // empty path -> '/'
      (5L, "  https://pad.example/p  "), // surrounding whitespace
      (6L, "http://a.example:443/x"))   // 443 is NOT http's default
    assert(got(1L).contains("http://example.com/Path/Page")) // path case kept
    assert(got(2L).contains("https://a.example/x"))
    assert(got(3L).contains("https://a.example:8443/x"))
    assert(got(4L).contains("https://a.example/"))
    assert(got(5L).contains("https://pad.example/p"))
    assert(got(6L).contains("http://a.example:443/x"))
  }

  test("reference forms: protocol-relative and root-relative resolve " +
    "against the base, everything else is NULL") {
    val got = canon(
      (1L, "//cdn.example/lib.js"),
      (2L, "/p/42?x=1"),
      (3L, "relative/path"),
      (4L, "javascript:void(0)"),
      (5L, "mailto:a@b.example"),
      (6L, ""),
      (7L, "https://"))          // scheme with no host
    assert(got(1L).contains("https://cdn.example/lib.js"))
    assert(got(2L).contains("https://base.example/p/42?x=1"))
    assert(got(3L).isEmpty && got(4L).isEmpty && got(5L).isEmpty)
    assert(got(6L).isEmpty && got(7L).isEmpty)
  }

  test("tracking params drop, remaining params keep their order, " +
    "emptied query drops its '?'") {
    val got = canon(
      (1L, "https://a.example/p?utm_source=x&b=2&utm_campaign=c&a=1"),
      (2L, "https://a.example/p?gclid=z"),
      (3L, "https://a.example/p?fbclid"),     // bare tracking param
      (4L, "https://a.example/p?utm_x=1&msclkid=m&ok=3"),
      (5L, "https://a.example/p?UTM_SOURCE=x")) // case-sensitive: kept
    assert(got(1L).contains("https://a.example/p?b=2&a=1")) // order kept
    assert(got(2L).contains("https://a.example/p"))
    assert(got(3L).contains("https://a.example/p"))
    assert(got(4L).contains("https://a.example/p?ok=3"))
    assert(got(5L).contains("https://a.example/p?UTM_SOURCE=x"))
  }

  test("hostOf extracts the lowercased host, null on null input; " +
    "dedup-by-canonical collapses spellings of one URL") {
    val df = Seq(
      (1L, "HTTPS://A.Example:443/p?utm_source=x#f"),
      (2L, "https://a.example/p"),
      (3L, "relative")).toDF("id", "u")
      .select(col("id"), UrlNormalize.canonicalUrl(col("u"),
        lit("base.example")).as("c"))
    val hosts = df.select(col("id"),
        UrlNormalize.hostOf(col("c")).as("h"))
      .as[(Long, Option[String])].collect().toMap
    assert(hosts(1L).contains("a.example") &&
      hosts(2L).contains("a.example") && hosts(3L).isEmpty)
    // both spellings canonicalize identically -> one frontier entry
    val distinct = df.filter(col("c").isNotNull)
      .select("c").distinct().count()
    assert(distinct == 1L)
  }

  test("canonicalUrl is pure column algebra: map-only plan, bad " +
    "baseScheme rejected") {
    val df = Seq((1L, "/x")).toDF("id", "u")
      .select(UrlNormalize.canonicalUrl(col("u"), lit("h.example")))
    df.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(df) == 0,
      df.queryExecution.executedPlan.toString)
    intercept[IllegalArgumentException] {
      UrlNormalize.canonicalUrl(col("u"), lit("h"), baseScheme = "ftp")
    }
  }

  test("registeredDomain: longest listed suffix wins, prevailing-rule " +
    "fallback, suffix-itself and single-label hosts are NULL, guards") {
    import org.apache.spark.sql.functions.col
    val sfx = Seq("co.uk", "com", "org")
    val got = Seq(
      "news.bbc.co.uk", "www.bbc.co.uk", "bbc.co.uk", // one publisher
      "co.uk",          // IS a suffix -> NULL
      "a.example.com",  // listed depth-1
      "cdn.static.site.io", // unlisted TLD -> prevailing * rule
      "localhost",      // single label -> NULL
      "sub.deep.x.co.uk")
      .toDF("host")
      .select(col("host"),
        UrlNormalize.registeredDomain(col("host"), sfx).as("rd"))
      .as[(String, Option[String])].collect().toMap
    assert(got("news.bbc.co.uk") == Some("bbc.co.uk"))
    assert(got("www.bbc.co.uk") == Some("bbc.co.uk"))
    assert(got("bbc.co.uk") == Some("bbc.co.uk"))
    assert(got("co.uk").isEmpty)
    assert(got("a.example.com") == Some("example.com"))
    assert(got("cdn.static.site.io") == Some("site.io"))
    assert(got("localhost").isEmpty)
    assert(got("sub.deep.x.co.uk") == Some("x.co.uk"))
    intercept[IllegalArgumentException] {
      UrlNormalize.registeredDomain(col("host"), Seq())
    }
    intercept[IllegalArgumentException] {
      UrlNormalize.registeredDomain(col("host"), Seq("*.ck"))
    }
    intercept[IllegalArgumentException] {
      UrlNormalize.registeredDomain(col("host"), Seq("a.b.c.d.e"))
    }
  }
}
