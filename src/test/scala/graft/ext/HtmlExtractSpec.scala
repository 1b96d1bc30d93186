package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HtmlExtractSpec extends SparkSpec {
  import spark.implicits._

  private def extract(docs: (Long, String)*): Map[Long, Seq[(Long, String, Long)]] =
    HtmlExtract.extractLines(docs.toDF("id", "html"), "id", "html")
      .select(col("id"), col("line_no"), col("line"), col("link_permil"))
      .as[(Long, Long, String, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq)
      .toMap

  test("happy path: blocks become lines, inline tags vanish, entities " +
    "decode, whitespace collapses") {
    val html = "<html><body><h1>A &amp; B</h1>" +
      "<p>hello <b>bold</b>\n  world</p>" +
      "<div>x &lt;y&gt;&nbsp;z</div></body></html>"
    val lines = extract((1L, html))(1L).map(t => (t._2, t._3))
    assert(lines == Seq(
      ("A & B", 0L), ("hello bold world", 0L), ("x <y> z", 0L)))
  }

  test("script/style content drops entirely — including a hostile " +
    "'</div>' inside a script string and CSS braces") {
    val html = "<p>keep</p><script>var x=\"</div>\";bad()</script>" +
      "<style>p{color:red}</style><p>also</p>"
    val lines = extract((1L, html))(1L).map(_._2)
    assert(lines == Seq("keep", "also"))
  }

  test("unterminated script eats to end of document (truncated crawl " +
    "must not leak code into the corpus)") {
    val html = "<p>keep</p><script>var x = 1; trailing junk"
    assert(extract((1L, html))(1L).map(_._2) == Seq("keep"))
    // same for style
    val html2 = "<p>keep</p><style>body{--x:'"
    assert(extract((2L, html2))(2L).map(_._2) == Seq("keep"))
  }

  test("comments drop, non-greedily — two comments do not merge and " +
    "eat the text between them") {
    val html = "<p>a<!-- one -->b<!-- two -->c</p>"
    assert(extract((1L, html))(1L).map(_._2) == Seq("abc"))
  }

  test("double-encoded entity decodes one level: &amp;lt; becomes the " +
    "literal text &lt;") {
    val html = "<p>&amp;lt;tag&amp;gt;</p>"
    assert(extract((1L, html))(1L).map(_._2) == Seq("&lt;tag&gt;"))
  }

  test("link density: pure-anchor lines are 1000 permil, mixed lines " +
    "count anchor text plus absorbed whitespace, plain lines are 0") {
    val html = "<li><a href=\"/x\">Nav</a></li>" +
      "<p>foo <a href=\"/y\">bar</a> baz</p>" +
      "<p>plain prose line</p>"
    val got = extract((1L, html))(1L).map(t => (t._2, t._3))
    assert(got.map(_._1) == Seq("Nav", "foo bar baz", "plain prose line"))
    assert(got(0)._2 == 1000L)
    // "foo bar baz" = 11 visible; anchor-stripped "foo baz" = 7;
    // 4 anchor chars -> 4000 div 11 = 363
    assert(got(1)._2 == 363L)
    assert(got(2)._2 == 0L)
  }

  test("hostile markup never throws: bare '<', attribute with '>', " +
    "unclosed anchor, tag soup, empty and tag-only documents") {
    val docs = Seq(
      (1L, "a < b and c > d"),           // bare < eats to the next >
      (2L, "<p title=\"a>b\">x</p>"),    // naive: attr '>' ends the tag
      (3L, "<p><a href=\"/x\">no close</p>"), // unclosed anchor
      (4L, "<<<>>><p>t</p><//junk>"),
      (5L, ""),
      (6L, "<div><br/><hr></div>"),
      (7L, "<P>UPPER</P><DIV>case</DIV>")) // case-insensitive tags
    val got = extract(docs: _*)
    // bare-< line: "< b and c >" is treated as a tag — documented naive
    assert(got(1L).map(_._2) == Seq("a d"))
    assert(got(2L).map(_._2) == Seq("b\">x")) // naive attr cut, no throw
    // unclosed anchor: anchor strip can't fire, text counts as body
    assert(got(3L).map(t => (t._2, t._3)) == Seq(("no close", 0L)))
    // "<<<>>>": the tag regex consumes "<<<>" (greedy [^>]* then the
    // first '>'), leaving ">>" as visible text — naive but deterministic
    assert(got(4L).map(_._2) == Seq(">>", "t"))
    assert(!got.contains(5L)) // empty doc: no lines at all
    assert(!got.contains(6L)) // tag-only doc: no visible lines
    assert(got(7L).map(_._2) == Seq("UPPER", "case"))
  }

  test("extractText rejoins surviving lines in document order and " +
    "drops link-dense boilerplate") {
    val html = "<p>first</p><li><a href=\"/n\">NavOne</a></li>" +
      "<p>second</p>"
    val got = HtmlExtract.extractText(
        Seq((1L, html)).toDF("id", "html"), "id", "html",
        maxLinkPermil = 500)
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "first\nsecond")
    // permissive threshold keeps the nav line, still in order
    val all = HtmlExtract.extractText(
        Seq((1L, html)).toDF("id", "html"), "id", "html",
        maxLinkPermil = 1000)
      .as[(Long, String)].collect().toMap
    assert(all(1L) == "first\nNavOne\nsecond")
  }

  test("map-only contract: extractLines plans zero shuffle exchanges") {
    val df = HtmlExtract.extractLines(
      Seq((1L, "<p>x</p>")).toDF("id", "html"), "id", "html")
    df.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(df) == 0,
      df.queryExecution.executedPlan.toString)
  }

  private def linksOf(html: String): Seq[(Long, String, String)] =
    HtmlExtract.links(Seq((1L, html)).toDF("id", "html"), "id", "html")
      .select("link_no", "href", "anchor")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq

  test("links: quote forms, numbering stability, entity decode") {
    val got = linksOf(
      "<a href=\"https://a.example/?x=1&amp;y=2\">One &amp; Two</a>" +
        "<a name=\"no-href\">skip</a>" +
        "<a href='https://b.example/p'>B <i>it</i></a>" +
        "<a href=/bare/z>Z</a>")
    assert(got == Seq(
      (0L, "https://a.example/?x=1&y=2", "One & Two"),
      (2L, "https://b.example/p", "B it"),
      (3L, "/bare/z", "Z")))
  }

  test("links: scripted and commented-out anchors contribute nothing") {
    val got = linksOf(
      "<script>var s='<a href=\"https://evil.example/\">x</a>';</script>" +
        "<!-- <a href=\"https://old.example/\">gone</a> -->" +
        "<a href=\"https://keep.example/\">Keep</a>")
    assert(got == Seq((0L, "https://keep.example/", "Keep")))
  }

  test("links: whitespace around '=' and attribute order tolerated") {
    val got = linksOf(
      "<a class=\"x\" href = \"https://a.example/\" rel=nofollow>T</a>")
    assert(got == Seq((0L, "https://a.example/", "T")))
  }

  test("links is a map-only plan: zero shuffle exchanges") {
    val df = HtmlExtract.links(
      Seq((1L, "<a href=\"https://a.example/\">x</a>")).toDF("id", "html"),
      "id", "html")
    df.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(df) == 0,
      df.queryExecution.executedPlan.toString)
  }

  private val JxStop = Seq("the", "a", "of", "and")

  private def justext(html: String,
      stop: Seq[String] = JxStop): Seq[(Long, String, Long, Long, String)] =
    HtmlExtract.justextBlocks(
        Seq((1L, html)).toDF("id", "html"), "id", "html",
        stop.toDF("word"))
      .select("line_no", "line", "link_permil", "stop_permil", "cls")
      .as[(Long, String, Long, Long, String)].collect().sortBy(_._1).toSeq

  test("justext: every context-free class from one document, decision " +
    "order respected") {
    val prose = ("the cat sat of the mat and " * 12).trim // 322 chars, high stop
    val mid = ("the a " * 20).trim                        // 119 chars, stop 1000
    val lowStop = ("alpha beta gamma delta epsilon " * 4).trim // 123, stop 0
    val got = justext(
      s"<li><a href='/n'>Nav One</a></li>" + // pure link -> bad
        s"<p>short note</p>" +               // <70, no link -> short
        s"<p><a href='/m'>more</a> see details</p>" + // <70 WITH link -> bad
        s"<p>$prose</p>" +                   // >200 & high stop -> good
        s"<p>$mid</p>" +                     // 70..200 & high stop -> neargood
        s"<p>$lowStop</p>")                  // long, stop 0 -> bad
    assert(got.map(_._5) ==
      Seq("bad", "short", "bad", "good", "neargood", "bad"))
    assert(got.head._3 == 1000L) // nav is pure-anchor
    assert(got(4)._4 == 1000L)   // the-a block is all stopwords
  }

  test("justext: threshold boundaries are exact (len and permil edges)") {
    // exactly lenLow chars, zero links: NOT short (len < 70 is strict),
    // falls through to the stopword branches -> bad at stop 0
    val exact70 = "x" * 70
    assert(justext(s"<p>$exact70</p>").head._5 == "bad")
    // 69 chars -> short
    assert(justext(s"<p>${"x" * 69}</p>").head._5 == "short")
    // stop_permil exactly 320 at len in (70,200]: neargood (>= is
    // inclusive); 10 tokens: 4 stop words puts floor at 400, build
    // 16/50: 16*1000/50=320 exactly
    val mix = (List.fill(16)("the") ++ List.fill(34)("zz")).mkString(" ")
    val r = justext(s"<p>$mix</p>").head
    assert(r._4 == 320L && r._5 == "neargood", r.toString)
    // one fewer stopword -> 300 exactly -> still neargood via the low
    // branch; below 300 -> bad
    val mix300 = (List.fill(15)("the") ++ List.fill(35)("zz")).mkString(" ")
    val r300 = justext(s"<p>$mix300</p>").head
    assert(r300._4 == 300L && r300._5 == "neargood", r300.toString)
    val mix299 = (List.fill(14)("the") ++ List.fill(36)("zz")).mkString(" ")
    assert(justext(s"<p>$mix299</p>").head._5 == "bad")
  }

  test("justext: stopword list is normalized like the wordlist gate — " +
    "trim, lower, whitespace entries dropped, dups collapse") {
    val prose = ("THE cat sat of THE mat and " * 12).trim
    // messy list: padded uppercase dup, whitespace-carrying entry
    val got = justext(s"<p>$prose</p>",
      stop = Seq(" THE ", "the", "of", "and", "a b"))
    assert(got.head._5 == "good", got.toString) // matching is case-insensitive
  }

  test("justext: oversized stopword list is rejected, empty list " +
    "classifies everything bad-or-short") {
    intercept[IllegalArgumentException] {
      HtmlExtract.justextBlocks(
        Seq((1L, "<p>x</p>")).toDF("id", "html"), "id", "html",
        (1 to 11).map(i => s"w$i").toDF("word"), maxStopwords = 10)
    }
    val got = justext("<p>" + ("the a " * 60).trim + "</p>",
      stop = Seq.empty[String])
    assert(got.head._5 == "bad") // stop 0 despite all function words
  }

  test("justextRevise: every context branch — both-good promotes, " +
    "both-bad demotes, mixed splits by class, edges default bad") {
    val prose = ("the cat sat of the mat and " * 12).trim // good
    val nav = "<li><a href='/n'>Nav</a></li>"             // bad
    val html =
      s"<p>head note</p>" +          // 0: short, edge+bad -> bad
        nav +                        // 1: bad anchor
        s"<p>$prose</p>" +           // 2: good anchor
        "<p>sandwiched caption</p>" + // 3: short, good..good -> good
        s"<p>$prose</p>" +           // 4: good anchor
        "<p>trailing note</p>" +     // 5: short, good..edge -> bad
        "<p>" + ("the a " * 20).trim + "</p>" // 6: neargood, good..edge -> good
    // line 6 comes BEFORE 5 in doc order? no — keep as listed: indices
    // are line_no order of the non-empty visible lines
    val got = HtmlExtract.justextRevise(
        HtmlExtract.justextBlocks(
          Seq((1L, html)).toDF("id", "html"), "id", "html",
          JxStop.toDF("word")), "id")
      .select("line_no", "cls", "final_cls")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got.map(_._2) == Seq("short", "bad", "good", "short",
      "good", "short", "neargood"), got.toString)
    assert(got.map(_._3) == Seq("bad", "bad", "good", "good",
      "good", "bad", "good"), got.toString)
  }

  test("justextText: good blocks reassemble in document order, " +
    "all-boilerplate docs drop, counts are exact") {
    val prose1 = ("the cat sat of the mat and " * 12).trim
    val prose2 = ("a dog ran of the hill and " * 12).trim
    val keepDoc = (1L, s"<p>$prose1</p><p>mid caption</p><p>$prose2</p>" +
      "<li><a href='/n'>Nav</a></li>")
    val dropDoc = (2L, "<li><a href='/n'>Nav One</a></li><p>short</p>")
    val got = HtmlExtract.justextText(
        Seq(keepDoc, dropDoc).toDF("id", "html"), "id", "html",
        JxStop.toDF("word"))
      .select("id", "n_blocks", "n_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(1L), got.toString) // doc 2 dropped whole
    val (_, nb, nk, text) = got.head
    assert(nb == 4L && nk == 3L)
    assert(text == s"$prose1\nmid caption\n$prose2", text)
  }

  test("justext: hostile markup (scripted anchor, bare '<') never " +
    "throws and is a map-only plan") {
    val df = HtmlExtract.justextBlocks(
      Seq((1L, "<script>var a='<a href=x>y</a>'</script>" +
        "<p>3 < 5 and the rest</p>")).toDF("id", "html"),
      "id", "html", JxStop.toDF("word"))
    df.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(df) == 0,
      df.queryExecution.executedPlan.toString)
  }
}
