package graft.ext

import graft.SparkSpec

/** Sitemap parsing beyond the oracle fixture: index documents, loc-less
  * blocks, attributes on entry tags, double-escaped entities, foreign
  * content, and stable entry numbering under partial corruption. */
class SitemapSpec extends SparkSpec {
  import spark.implicits._

  private def parse(xml: String) =
    Sitemap.entries(Seq(("h.example", xml)).toDF("host", "xml"))
      .collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(3),
        Option(r.getString(4))))

  test("sitemapindex documents yield child-sitemap entries") {
    val got = parse(
      """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<sitemap><loc>https://h.example/a.xml</loc>
        |<lastmod>2026-01-01</lastmod></sitemap>
        |<sitemap><loc>https://h.example/b.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin)
    assert(got.toSeq == Seq(
      ("sitemapindex", 0, "https://h.example/a.xml", Some("2026-01-01")),
      ("sitemapindex", 1, "https://h.example/b.xml", None)))
  }

  test("loc-less blocks drop but keep later entry numbers stable") {
    val got = parse(
      "<urlset><url><lastmod>2026-01-01</lastmod></url>" +
        "<url><loc>https://h.example/x</loc></url></urlset>")
    assert(got.toSeq == Seq(("urlset", 1, "https://h.example/x", None)))
  }

  test("attributes on url/loc tags and double-escaped entities") {
    val got = parse(
      "<urlset><url data-x=\"1\"><loc >https://h.example/?q=a&amp;amp;b" +
        "</loc></url></urlset>")
    // &amp;amp; decodes ONE level: -> &amp; (amp decoded last)
    assert(got.toSeq ==
      Seq(("urlset", 0, "https://h.example/?q=a&amp;b", None)))
  }

  test("foreign content yields zero entries, null kind never throws") {
    assert(parse("<html><body>not a sitemap</body></html>").isEmpty)
    assert(parse("").isEmpty)
    assert(parse("<urlset></urlset>").isEmpty)
  }

  test("multiline blocks and surrounding whitespace in loc") {
    val got = parse(
      "<urlset>\n  <url>\n    <loc>\n      https://h.example/deep\n" +
        "    </loc>\n    <lastmod>2025-12-31</lastmod>\n  </url>\n</urlset>")
    assert(got.toSeq ==
      Seq(("urlset", 0, "https://h.example/deep", Some("2025-12-31"))))
  }

  test("entries is a map-only plan: zero shuffle exchanges") {
    val df = Sitemap.entries(Seq(("h.example",
      "<urlset><url><loc>https://h.example/x</loc></url></urlset>"))
      .toDF("host", "xml"))
    df.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(df) == 0,
      df.queryExecution.executedPlan.toString)
  }
}
