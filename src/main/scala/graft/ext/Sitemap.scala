package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sitemap XML extraction (sitemaps.org protocol) — the frontier-seed
  * stage: robots.txt names the sitemap URLs, their fetched XML yields the URL inventory (and
  * `<lastmod>` recrawl hints) that seeds the crawl frontier.
  *
  * Both document kinds are handled: `<urlset>` (leaf: `<url>` entries
  * with `<loc>`/`<lastmod>`) and `<sitemapindex>` (`<sitemap>` entries
  * pointing at child sitemaps — the kind column lets a driver loop
  * fetch-and-expand until only leaves remain). Extraction is a
  * regex-subset parse — lazy-quantifier block split + per-block field
  * pulls, the [[HtmlExtract]] approach: XML this regular doesn't need
  * a full parser, the pattern dialect is shared Java/RE2 so a SQL
  * oracle replays it, and hostile input degrades to dropped entries,
  * never an error. The five XML entities are decoded (`&amp;` LAST,
  * so `&amp;lt;` round-trips correctly).
  *
  * Scale shape: map-only — one generator (posexplode of the block
  * array) per sitemap document, no shuffle, no UDF; a million fetched
  * sitemaps parse as one narrow projection stage.
  */
object Sitemap {

  private val UrlsetRe = "(?s)<\\s*urlset[\\s>]"
  private val IndexRe = "(?s)<\\s*sitemapindex[\\s>]"
  private val UrlBlockRe = "(?s)<url\\b[^>]*>(.*?)</url>"
  private val SitemapBlockRe = "(?s)<sitemap\\b[^>]*>(.*?)</sitemap>"
  private val LocRe = "(?s)<loc\\b[^>]*>(.*?)</loc>"
  private val LastmodRe = "(?s)<lastmod\\b[^>]*>(.*?)</lastmod>"

  private def wsTrim(c: Column): Column =
    regexp_replace(c, "^\\s+|\\s+$", "")

  /** Decode the five XML entities; `&amp;` last so double-escaped
    * entities survive one level. */
  private def decodeXmlEntities(c: Column): Column =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&amp;" -> "&").foldLeft(c) {
      case (acc, (from, to)) => regexp_replace(acc, from, to)
    }

  /** Document kind: 'urlset', 'sitemapindex', or null (unrecognized —
    * entries are still attempted as `<url>` blocks, which yields zero
    * rows for genuinely foreign content). */
  def kind(xml: Column): Column =
    when(regexp_like(xml, lit(IndexRe)), "sitemapindex")
      .when(regexp_like(xml, lit(UrlsetRe)), "urlset")
      .otherwise(lit(null).cast("string"))

  /** Extract sitemap entries: one row per `<url>` (urlset) or
    * `<sitemap>` (index) block carrying a non-empty `<loc>`. Returns
    * (hostCol, kind, entry_no, loc, lastmod) — `entry_no` is the
    * 0-based document order (entries missing a loc still consume a
    * number, so positions are stable under partial corruption),
    * `lastmod` is null when absent.
    */
  def entries(df: DataFrame, hostCol: String = "host",
      xmlCol: String = "xml"): DataFrame = {
    val xml = col(xmlCol)
    val blocks = when(kind(xml) === "sitemapindex",
      regexp_extract_all(xml, lit(SitemapBlockRe), lit(1)))
      .otherwise(regexp_extract_all(xml, lit(UrlBlockRe), lit(1)))
    df.select(col(hostCol), kind(xml).as("kind"), blocks.as("__blocks"))
      .select(col(hostCol), col("kind"),
        posexplode(col("__blocks")).as(Seq("entry_no", "__block")))
      // SQL trim() strips only spaces; sitemap fields wrap across
      // lines, so strip the full whitespace class at both ends
      .withColumn("loc", decodeXmlEntities(wsTrim(
        regexp_extract(col("__block"), LocRe, 1))))
      .withColumn("lastmod", nullif(
        wsTrim(regexp_extract(col("__block"), LastmodRe, 1)), lit("")))
      .filter(col("loc") =!= "")
      .select(col(hostCol), col("kind"), col("entry_no"), col("loc"),
        col("lastmod"))
  }
}
