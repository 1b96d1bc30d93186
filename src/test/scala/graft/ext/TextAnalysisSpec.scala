package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("fingerprint is order-sensitive, stable, and in range") {
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "c b a"), (4L, "")
    ).toDF("id", "text")
    val fps = df.select(col("id"), TextAnalysis.fingerprint(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    assert(fps.values.forall(f => f >= 0 && f < TextAnalysis.HashPrime))
  }

  test("tokenHash31 matches the md5-derived reference value") {
    // python: int(hashlib.md5(b'hello').hexdigest()[:15], 16) % 2147483647
    val got = Seq("hello").toDF("t")
      .select(TextAnalysis.tokenHash31(col("t"))).as[Long].collect()(0)
    assert(got == 419982666956583591L % 2147483647L)
  }

  test("regexTokens splits words and punctuation BPE-style") {
    val got = Seq("Hello, world! x2").toDF("t")
      .select(TextAnalysis.regexTokens(col("t"))).as[Seq[String]].collect()(0)
    assert(got == Seq("Hello", ",", "world", "!", "x2"))
  }

  test("quality score is in [0,1] and favors diverse long docs") {
    val df = Seq(
      (1L, "the " + (1 to 99).map(i => s"tok$i").mkString(" ")), // diverse
      (2L, Seq.fill(100)("dup").mkString(" "))                   // degenerate
    ).toDF("id", "text")
    val q = df.select(col("id"), TextAnalysis.qualityScore(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(q.values.forall(v => v >= 0 && v <= 1))
    assert(q(1L) > q(2L))
  }

  test("charNgramProfile yields |s|-n+1 trigrams") {
    val got = Seq("abcd e").toDF("t")
      .select(TextAnalysis.charNgramProfile(col("t"), 3))
      .as[Seq[String]].collect()(0)
    assert(got == Seq("abc", "bcd", "cd_", "d_e"))
  }

  test("dupSpans finds shared n-gram spans, counts docs not occurrences") {
    val df = Seq(
      (1L, "x x a b c d e f g h x"),   // contains span "a b c d e f g h"
      (2L, "a b c d e f g h y z"),     // same span, different context
      (3L, "a b c d e f g h a b c d e f g h"), // span TWICE in one doc
      (4L, "nothing shared here at all with anyone else ok")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupSpans(df, "doc_id", "text", n = 8)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.contains("a b c d e f g h"))
    // doc 3 carries the span twice but counts ONCE (doc-distinct shingles)
    assert(got("a b c d e f g h") == (3L, 1L, 3L))
    assert(!got.keys.exists(_.startsWith("nothing")))
  }

  test("stratifiedSample: deterministic, stratum-rated, repartition-stable") {
    val docs = graft.Tables.documents(spark, sfDir)
    val rates = Map("en" -> 300)
    val a = TextAnalysis.stratifiedSample(docs, "doc_id", "lang", rates, 800)
      .select("doc_id").as[Long].collect().toSet
    val b = TextAnalysis.stratifiedSample(docs.repartition(13), "doc_id",
        "lang", rates, 800)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "selection must be independent of partitioning")
    // rough rate sanity: en kept near 30%, others near 80%
    val byLang = TextAnalysis.stratifiedSample(docs, "doc_id", "lang",
        rates, 800)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("lang").count().as[(String, Long)]
      .collect().toMap
    val enRate = byLang.getOrElse("en", 0L).toDouble / totals("en")
    assert(enRate > 0.1 && enRate < 0.5, s"en rate $enRate far from 0.3")
    intercept[IllegalArgumentException] {
      TextAnalysis.stratifiedSample(docs, "doc_id", "lang",
        Map("en" -> 1500), 800)
    }
  }

  test("chunkDocs: window/stride arithmetic, coverage, truncation") {
    val text = (1 to 100).map(i => s"t$i").mkString(" ") // 100 tokens
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocs(df, "doc_id", "text",
        chunkTokens = 64, stride = 48)
      .orderBy("chunk_idx")
      .select("chunk_idx", "start_tok", "n_chunk_tokens", "chunk")
      .as[(Long, Long, Long, String)].collect()
    // starts 0, 48, 96 (< 100)
    assert(chunks.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((0L, 0L, 64L), (1L, 48L, 52L), (2L, 96L, 4L)))
    assert(chunks(0)._4.startsWith("t1 t2 ") && chunks(0)._4.endsWith(" t64"))
    assert(chunks(2)._4 == "t97 t98 t99 t100")
    // overlap: chunk 1 starts inside chunk 0
    assert(chunks(1)._4.startsWith("t49 "))
    // every token index is covered by at least one chunk
    val covered = chunks.flatMap(c => c._2 until (c._2 + c._3)).toSet
    assert(covered == (0L until 100L).toSet)
  }

  test("dupNgramStats: hand-computed repetition ratios") {
    val df = Seq(
      (1L, "x y x y x"),   // bigrams: xy yx xy yx -> 4 total, 2 distinct
      (2L, "a b c d"),     // 3 total, 3 distinct, no dups
      (3L, "z")            // shorter than n=2 -> no grams, drops out
    ).toDF("id", "text")
    val got = TextAnalysis.dupNgramStats(df, "id", "text", n = 2)
      .orderBy("id")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 2L, 0.5, 0.5),
      (2L, 3L, 3L, 0.0, 1.0 / 3.0)))
  }

  test("tfIdfTop: rare terms outscore common ones, ties by token") {
    val df = Seq(
      (1L, "common rare1"), (2L, "common rare2"), (3L, "common common")
    ).toDF("id", "text")
    val rows = TextAnalysis.tfIdfTop(df, "id", "text", k = 1)
      .as[(Long, Long, String, Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    // rare (df=1, idf=3) beats common (df=3, idf=1) in docs 1 and 2
    assert(rows == Map(1L -> "rare1", 2L -> "rare2", 3L -> "common"))
  }

  test("zipfHead: ranks, cumulative mass, bounded window input") {
    val df = Seq("a a a b b c").toDF("text")
    val got = TextAnalysis.zipfHead(df, "text", k = 2)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, "a", 3L, 3L, 0.5),
      (2L, "b", 2L, 5L, 5.0 / 6.0)))
  }

  test("cdcChunks: insertion shifts one chunk, not the whole layout") {
    // 'spark' and 'sort' hash to 0 mod 8 (fixture boundary tokens);
    // chunks are [.. spark] [.. sort] [tail]
    val a = "aa bb spark cc dd sort ee ff gg"
    val b = "aa bb spark cc XX YY dd sort ee ff gg" // insert mid-chunk
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val got = TextAnalysis.cdcChunks(df, "id", "text", modulus = 8)
      .orderBy("id", "chunk_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val ca = got.filter(_._1 == 1L).map(c => (c._4, c._5)) // (n_tok, hash)
    val cb = got.filter(_._1 == 2L).map(c => (c._4, c._5))
    // same chunk count, and EXACTLY ONE chunk (the edited one) differs —
    // fixed-stride chunking lacks this: every window after the edit
    // shifts (chunkDocs strides re-slice the whole tail)
    assert(ca.size == cb.size, got.toString)
    val differing = ca.zip(cb).count { case (x, y) => x != y }
    assert(differing == 1, s"a=$ca b=$cb")
  }

  test("epochMixture: weights respected exactly, partition-independent") {
    val df = (0L until 1000L).map(i =>
      (i, if (i < 300) "drop" else if (i < 600) "up" else "keep"))
      .toDF("id", "src")
    val out = TextAnalysis.epochMixture(df, "id", "src",
      Map("drop" -> 0, "up" -> 2500), defaultPermil = 1000)
    val bySrc = out.groupBy("src").count().as[(String, Long)]
      .collect().toMap
    assert(!bySrc.contains("drop"))
    assert(bySrc("keep") == 400L, bySrc.toString)
    // 300 docs at 2.5x: 2 copies each + hash-selected ~half get a third
    assert(bySrc("up") >= 600L && bySrc("up") <= 900L, bySrc.toString)
    // copies are numbered 0..n-1 per doc
    val copies = out.filter(col("src") === "up")
      .groupBy("id").agg(count(lit(1)).as("n"),
        max("epoch_copy").as("mx"), min("epoch_copy").as("mn"))
      .filter(col("mx") =!= col("n") - 1 || col("mn") =!= 0)
    assert(copies.count() == 0)
    // identical output under different partitioning
    val again = TextAnalysis.epochMixture(df.repartition(7), "id", "src",
      Map("drop" -> 0, "up" -> 2500), defaultPermil = 1000)
    assert(out.select("id", "epoch_copy").collect().toSet ==
      again.select("id", "epoch_copy").collect().toSet)
  }

  test("bm25Scores: query-dense docs outrank sparse ones, misses drop") {
    val df = Seq(
      (1L, "spark query window spark"),
      (2L, "aa bb cc dd ee ff"),
      (3L, "spark aa bb cc dd ee ff gg hh ii jj kk")
    ).toDF("id", "text")
    val got = TextAnalysis.bm25Scores(df, "id", "text",
        Seq("spark", "query", "window"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(2L), "no query terms -> no row")
    assert(got(1L)._2 == 3 && got(3L)._2 == 1, got.toString)
    assert(got(1L)._3 > got(3L)._3,
      "3 matched terms in a short doc must outscore 1 in a long doc")
  }

  test("langIdHeuristic agrees with stopword ratio on the fixture") {
    val docs = graft.Tables.documents(spark, sfDir)
    val out = docs.select(
      TextAnalysis.langIdHeuristic(col("text")).as("pred")).groupBy("pred")
      .count().as[(String, Long)].collect().toMap
    assert(out.values.sum == 500)
    assert(out.keySet.subsetOf(Set("en", "other")))
  }

  test("stripBoilerplate: template lines go, content stays, order " +
    "kept; all-boilerplate docs vanish; boundary inclusive") {
    // 10 docs, every one carries FOOTER (10/10) and docs 0-4 carry NAV
    // (5/10); content lines are unique
    val docs = (0L until 10L).map { i =>
      val nav = if (i < 5) "NAV\n" else ""
      (i, s"${nav}body $i\nFOOTER\ntail $i")
    }.toDF("id", "text")
    // threshold 400 permil: NAV (500) and FOOTER (1000) strip
    val got = TextAnalysis.stripBoilerplate(docs, "id", "text",
        maxPermil = 400)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(3L)._2 == "body 3\ntail 3" && got(3L)._3 == 2L)
    assert(got(7L)._2 == "body 7\ntail 7")
    // threshold 500 permil: NAV (exactly 500) is now KEPT — inclusive
    val inc = TextAnalysis.stripBoilerplate(docs, "id", "text",
        maxPermil = 500)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(inc(3L) == "NAV\nbody 3\ntail 3", inc(3L))
    // a doc that is pure boilerplate disappears from the output
    val withEmpty = docs.union(Seq((99L, "FOOTER")).toDF("id", "text"))
    val ids = TextAnalysis.stripBoilerplate(withEmpty, "id", "text",
        maxPermil = 400)
      .select("id").as[Long].collect().toSet
    assert(!ids.contains(99L) && ids.size == 10)
  }

  test("piiCounts sees every category; piiRedact claims spans in order " +
    "and is idempotent") {
    val df = Seq((1L,
      "mail a.b-c@x.io call +1 555-010-1234 id 123-45-6789 " +
        "host 192.168.0.1 plain 42")).toDF("id", "text")
    val counts = df.select(TextAnalysis.piiCounts(col("text")): _*)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(counts == ((1L, 1L, 1L, 1L, 4L)), counts.toString)
    val red = df.select(TextAnalysis.piiRedact(col("text")).as("r"))
      .as[String].collect().head
    // the optional '+' sits BEFORE the boundary in the pattern, so the
    // whole '+1 555-010-1234' is claimed, '+' included
    assert(red ==
      "mail <EMAIL> call <PHONE> id <ID> host <IP> plain 42", red)
    val twice = df.select(
      TextAnalysis.piiRedact(TextAnalysis.piiRedact(col("text"))).as("r"))
      .as[String].collect().head
    assert(twice == red, "redaction must be idempotent")
  }

  test("piiRedact: an email's digits are never re-matched by later " +
    "categories (order-claim semantics)") {
    val df = Seq((1L, "reach 123-45-6789@mail.example or 1 234-567-8901"))
      .toDF("id", "text")
    val red = df.select(TextAnalysis.piiRedact(col("text")).as("r"))
      .as[String].collect().head
    // the ssn-shaped local part is claimed by <EMAIL> first; the second
    // number really is a phone
    assert(red == "reach <EMAIL> or <PHONE>", red)
  }

  test("bigrams: ordered with multiplicity; 1-token and empty-ish docs " +
    "yield none") {
    val got = Seq("a b a b", "solo").toDF("text")
      .select(TextAnalysis.bigrams(col("text")).as("bg"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b", "b a", "a b"))
    assert(got(1).isEmpty)
  }

  test("bigramModel: cnt/prefix_cnt is a proper conditional " +
    "distribution (sums to 1 per prefix); lmScore ranks in-model text " +
    "above out-of-model text") {
    val corpus = Seq((1L, "the cat sat"), (2L, "the cat ran"),
      (3L, "the dog sat")).toDF("id", "text")
    val m = TextAnalysis.bigramModel(corpus, "text")
      .as[(String, String, Long, Long)].collect()
    // prefix 'the': 'the cat' x2 + 'the dog' x1 over prefix_cnt 3
    val theRows = m.filter(_._2 == "the")
    assert(theRows.map(_._3).sum == theRows.head._4,
      "conditional sums to 1 per prefix")
    assert(m.find(_._1 == "the cat").get._3 == 2L)
    val score = TextAnalysis.lmScore(
      Seq((10L, "the cat sat"), (11L, "zebra quark flux"))
        .toDF("id", "text"),
      "id", "text", TextAnalysis.bigramModel(corpus, "text"))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(score(10L)._3 > score(11L)._3,
      "in-model text outscores out-of-model text")
    assert(score(11L)._3 == 0L, "unseen bigrams score 0, not null")
  }

  test("collocations: a bound pair outranks independent co-occurrence") {
    // 'new york' always together (lift >> 1); filler tokens co-occur
    // independently
    val docs = (1 to 10).map(i =>
      (i.toLong, s"new york f$i g$i new york")).toDF("id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 5L,
      topK = 5).as[(String, Long, Long)].collect()
    assert(got.head._1 == "new york", got.mkString(","))
    assert(got.head._3 > 1000000L, "bound pair lifts above independence")
  }

  test("simpsonIndex and burstiness: hand values, all-distinct floor, " +
    "single-token ceiling") {
    val docs = Seq((1L, "a a b c"), (2L, "w x y z"),
      (3L, "spam spam spam")).toDF("id", "text")
    val got = docs
      .select(TextAnalysis.simpsonIndex(col("text")).as("s"),
        TextAnalysis.burstiness(col("text")).as("b"))
      .as[(Double, Double)].collect()
    // f = (2,1,1), n=4: (4+1+1)/16
    assert(got(0) == ((6.0 / 16.0, 2.0 / 4.0)), got(0).toString)
    assert(got(1) == ((4.0 / 16.0, 1.0 / 4.0)), "all-distinct floor 1/n")
    assert(got(2) == ((1.0, 1.0)), "one repeated token concentrates to 1")
    // the codegen'd index form produces the identical values
    val agg = TextAnalysis.diversityStats(docs, "id", "text")
      .orderBy("id").as[(Long, Long, Double, Double)].collect()
    assert(agg.map(r => (r._3, r._4)).toSeq == got.toSeq,
      "index form must equal the per-row forms bit-for-bit")
    assert(agg.map(_._2).toSeq == Seq(4L, 4L, 3L))
  }

  test("canonicalUrl: case, www, default ports, fragments, tracking " +
    "params and trailing slashes normalize; real params survive") {
    val vecs = Seq(
      ("HTTPS://WWW.Ex.Example:443/A/b/", "https://ex.example/A/b"),
      ("http://ex.example:80/p?utm_source=x&utm_medium=y", "http://ex.example/p"),
      ("http://ex.example/p?utm_source=x&id=7", "http://ex.example/p?id=7"),
      ("http://ex.example/p?id=7&fbclid=abc#frag", "http://ex.example/p?id=7"),
      ("http://ex.example/p?id=7&gclid=z&q=2", "http://ex.example/p?id=7&q=2"),
      // :8080 is NOT a default port; path case is preserved
      ("http://ex.example:8080/Keep/", "http://ex.example:8080/Keep"),
      ("https://www.ex.example", "https://ex.example"))
    val got = vecs.map(_._1).toDF("url")
      .select(TextAnalysis.canonicalUrl(col("url")).as("c"))
      .as[String].collect()
    vecs.map(_._2).zip(got).foreach { case (want, have) =>
      assert(want == have, s"want $want, have $have")
    }
  }

  test("dsirWeights: target == raw makes every ratio term exactly 1, " +
    "so every weight is exactly 1.0") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "gamma delta alpha beta")).toDF("doc_id", "text")
    // tcnt == rcnt and nt == nr bucket-for-bucket -> each term is the
    // SAME integer product over itself: (c+1)(n+B)/((c+1)(n+B)) = 1.0
    // exactly, and a product fold of exact 1.0s stays exactly 1.0.
    val w = TextAnalysis.dsirWeights(docs, docs, "doc_id", "text", 64)
      .select("weight").as[Double].collect()
    assert(w.length == 3 && w.forall(_ == 1.0d))
  }

  test("dsirWeights ranks in-domain docs above off-domain docs and is " +
    "partition-count independent") {
    // target speaks {aa..ae}; raw corpus = 10 target-like + 10 alien docs
    val tgt = (0 until 8).map(i =>
      (1000L + i, s"aa ab ac ad ae aa a$i")).toDF("doc_id", "text")
    val raw = ((0 until 10).map(i => (i.toLong, s"aa ab ac ad ae a$i")) ++
      (10 until 20).map(i => (i.toLong, s"zz zy zx zw zv z$i")))
      .toDF("doc_id", "text")
    val w = TextAnalysis.dsirWeights(raw, tgt, "doc_id", "text", 64)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    val inDomain = (0 until 10).map(i => w(i.toLong))
    val offDomain = (10 until 20).map(i => w(i.toLong))
    assert(inDomain.min > offDomain.max,
      s"in-domain min ${inDomain.min} must beat off-domain max ${offDomain.max}")
    // sorted-fold determinism: 7 partitions reproduce the exact bits
    val w7 = TextAnalysis.dsirWeights(raw.repartition(7), tgt, "doc_id",
        "text", 64)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    assert(w7 == w)
  }

  test("langIdLinear separates language pairs the stopword heuristic " +
    "cannot, and is partition-independent") {
    import org.apache.spark.sql.functions._
    // planted pseudo-French / pseudo-German / English corpora with
    // distinct character statistics; neither pseudo language carries
    // English stopwords
    val fr = Seq("bonjour", "chateau", "fromage", "montagne", "riviere",
      "oiseau", "jardin", "lumiere")
    val de = Seq("schloss", "strasse", "bergwerk", "flugzeug", "schnell",
      "zeitung", "gemuese", "fenster")
    val en = Seq("the", "quick", "brown", "fox", "jumps", "over", "a",
      "lazy", "dog", "and", "it", "is")
    def mk(words: Seq[String], lang: String, base: Long) =
      (0 until 10).map { i =>
        (base + i, lang,
          (0 until 16).map(j => words((i + j) % words.length))
            .mkString(" "))
      }
    val all = (mk(fr, "fr", 0L) ++ mk(de, "de", 100L) ++ mk(en, "en", 200L))
      .toDF("doc_id", "lang", "text")
    val train = all.filter(col("doc_id") % 10 < 8)
    val test = all.filter(col("doc_id") % 10 >= 8)
    // the heuristic cannot tell fr from de — both land in 'other'
    val heur = test.select(col("doc_id"),
        TextAnalysis.langIdHeuristic(col("text")).as("h"))
      .as[(Long, String)].collect().toMap
    assert(heur.filterKeys(_ < 200L).values.toSet == Set("other"),
      s"heuristic must label both pseudo languages 'other': $heur")
    // the trained classifier recovers the actual labels on ALL of them
    val model = TextAnalysis.langIdTrain(train, "text", "lang")
    val pred = TextAnalysis.langIdLinear(test, "doc_id", "text", model)
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    val want = test.select("doc_id", "lang").as[(Long, String)]
      .collect().toMap
    assert(pred == want, s"predictions $pred must equal labels $want")
    // partition independence: exact same predictions from 7 partitions
    val pred7 = TextAnalysis.langIdLinear(test.repartition(7), "doc_id",
        "text", TextAnalysis.langIdTrain(train.repartition(5), "text",
          "lang"))
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(pred7 == pred)
  }

  test("DSIR end-to-end selection (pipeline_dsir_select composition): " +
    "weights -> systematic resample -> token-budget packing") {
    import org.apache.spark.sql.functions._
    // target speaks {aa..ae}; raw = 10 in-domain + 10 alien docs
    val tgt = (0 until 8).map(i =>
      (1000L + i, s"aa ab ac ad ae aa a$i")).toDF("doc_id", "text")
    val raw = ((0 until 10).map(i => (i.toLong, s"aa ab ac ad ae a$i")) ++
      (10 until 20).map(i => (i.toLong, s"zz zy zx zw zv z$i")))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val wts = TextAnalysis.dsirWeights(df, tgt, "doc_id", "text", 64)
      val wi = wts.select(col("doc_id"),
        (floor(col("weight") * lit(1000000.0d)).cast("long") + lit(1L))
          .as("w"))
      val cum = graft.ops.PrefixSum.withRunningTotal(
        wi, "cum", col("w"), Seq(col("doc_id")))
      val st = cum.agg(max("cum").cast("long").as("t"))
        .select(greatest(expr("t div 50"), lit(1L)).as("step"))
      val sel = cum.crossJoin(broadcast(st))
        .filter(expr("cum div step > (cum - w) div step"))
        .select("doc_id", "w", "cum")
      val withTok = sel.join(df.select(col("doc_id"),
        TextAnalysis.nTokens(col("text")).as("n_tokens")), Seq("doc_id"))
      graft.ops.PrefixSum.packIntoBins(withTok, weight = col("n_tokens"),
          budget = 12L, orderBy = Seq(col("doc_id")))
        .select("doc_id", "w", "n_tokens", "start_offset", "bin")
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    }
    val out = run(raw)
    assert(out.nonEmpty)
    // the importance-resampled subset is dominated by in-domain docs:
    // every in-domain weight beats every alien weight (previous test),
    // so systematic sampling must pick at least as many in-domain rows
    val (in, off) = out.partition(_._1 < 10L)
    assert(in.size >= off.size && in.nonEmpty,
      s"selection must favor the target domain: $out")
    // packing invariants on the SELECTED set in doc_id order:
    // start_offset is the exact running token prefix, bin = floor/12,
    // bins contiguous from 0
    var running = 0L
    out.foreach { case (_, _, nTok, start, bin) =>
      assert(start == running, s"offset gap at $out")
      assert(bin == start / 12L)
      running += nTok
    }
    assert(out.head._5 == 0L)
    val bins = out.map(_._5).distinct
    assert(bins == (bins.min to bins.max), s"bins not contiguous: $bins")
    // partition independence: the whole composition reproduces exactly
    assert(run(raw.repartition(7)) == out)
  }

  test("wordlistHits: whole-token matching — 'scan' never hits " +
    "'scanner' or 'scans'; case-insensitive; every doc annotated") {
    val docs = Seq(
      (1L, "scanner scans scan rescan"),
      (2L, "SCAN Scan sCaN"),
      (3L, "clean text only"),
      (4L, "")).toDF("doc_id", "text")
    val wl = Seq("scan").toDF("word")
    val got = TextAnalysis.wordlistHits(docs, "doc_id", "text", wl)
      .select("doc_id", "tokens", "hits", "hit_permil")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 4L, 1L, 250L), got(1L).toString)
    assert(got(2L) == (2L, 3L, 3L, 1000L))
    assert(got(3L) == (3L, 3L, 0L, 0L))
    // empty text: split gives [""], one (non-matching) token
    assert(got(4L) == (4L, 1L, 0L, 0L))
  }

  test("wordlist normalization: padded/uppercase duplicates collapse, " +
    "whitespace-carrying and empty entries are dropped") {
    val docs = Seq((1L, "big big bad")).toDF("doc_id", "text")
    val wl = Seq("big", " BIG ", "big bad", "", "  ").toDF("word")
    val got = TextAnalysis.wordlistHits(docs, "doc_id", "text", wl)
      .select("hits").as[Long].collect()
    // only the deduped "big" survives the list: 2 hits, not 4, and the
    // phrase entry can never match a single token
    assert(got.toSeq == Seq(2L))
  }

  test("wordlistFilter: exact integral threshold boundary — 1 hit in " +
    "50 tokens is exactly 20 permil, kept at maxPermil=20, dropped at 19") {
    val fifty = (Seq("bad") ++ Seq.fill(49)("ok")).mkString(" ")
    val docs = Seq((1L, fifty), (2L, "bad bad ok")).toDF("doc_id", "text")
    val wl = Seq("bad").toDF("word")
    def keptIds(p: Int) =
      TextAnalysis.wordlistFilter(docs, "doc_id", "text", wl, p)
        .select("doc_id").as[Long].collect().toSet
    assert(keptIds(20) == Set(1L))
    assert(keptIds(19) == Set.empty[Long])
    assert(keptIds(1000) == Set(1L, 2L))
    // C4 policy: any hit rejects at maxPermil = 0
    assert(keptIds(0) == Set.empty[Long])
    // survivors keep their full row shape
    val cols = TextAnalysis
      .wordlistFilter(docs, "doc_id", "text", wl, 1000).columns.toSeq
    assert(cols == Seq("doc_id", "text"))
  }

  test("lineRepetitionStats: dup/char permils exact — all-unique 0, " +
    "repeated nav lines counted by occurrence and by characters") {
    val lines = Seq(
      (1L, "alpha"), (1L, "beta"), (1L, "gamma"),          // no dups
      (2L, "nav"), (2L, "nav"), (2L, "nav"), (2L, "body text"),
      (3L, "x"), (3L, "x")).toDF("id", "line")             // all dup
    val got = TextAnalysis.lineRepetitionStats(lines, "id", "line")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 3L, 0L, 0L, 14L, 0L))
    // doc 2: 4 lines, 2 dup occurrences of "nav" (3 chars each),
    // chars = 3*3 + 9 = 18, dup chars = 2*3 = 6
    assert(got(2L) == (2L, 4L, 2L, 500L, 18L, 333L))
    assert(got(3L) == (3L, 2L, 1L, 500L, 2L, 500L))
  }

  test("sentences: terminal runs split with punctuation retained; " +
    "quotes/brackets after punctuation stay attached; unpunctuated " +
    "tails and empty docs behave") {
    def run(t: String): Seq[String] =
      Seq(Tuple1(t)).toDF("t")
        .select(TextAnalysis.sentences(col("t")).as("s"))
        .as[Seq[String]].head()
    assert(run("Hi! How are you? I am fine.") ==
      Seq("Hi!", "How are you?", "I am fine."))
    assert(run("What?! Really") == Seq("What?!", "Really"))
    assert(run("He said \"stop.\" Then left") ==
      Seq("He said \"stop.\"", "Then left"))
    assert(run("no punctuation at all") == Seq("no punctuation at all"))
    assert(run("") == Seq.empty)
    assert(run("   ") == Seq.empty)
    // a dot NOT followed by whitespace never splits (3.14, v1.2)
    assert(run("pi is 3.14 ok. done") == Seq("pi is 3.14 ok.", "done"))
  }

  test("sentenceStats: terminal permil and mean chars are exact " +
    "integrals; the unterminated tail is counted as non-terminal") {
    val got = TextAnalysis.sentenceStatsDf(
        Seq((1L, "One. Two! Three")).toDF("id", "t"), "id", "t")
      .as[(Long, Long, Long, Long, Long)].head()
    // sentences: "One."(4) "Two!"(4) "Three"(5): 2 of 3 terminal,
    // permil 666, mean chars x100 = 1300/3 = 433
    assert(got == (1L, 3L, 2L, 666L, 433L))
    // sentence-free docs survive as an all-zero row (explode_outer)
    val empty = TextAnalysis.sentenceStatsDf(
        Seq((9L, "   ")).toDF("id", "t"), "id", "t")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(empty == (9L, 0L, 0L, 0L, 0L))
  }

  test("gopherSignals: word-shape columns exact on a crafted doc; " +
    "symbol tokens are whole-token matches only") {
    val doc = "good text #tag ### ... x9 42"
    val got = Seq((1L, doc)).toDF("id", "t")
      .select((col("id") +: TextAnalysis.gopherSignals(col("t"))): _*)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    // tokens: good text #tag ### ... x9 42 -> n=7, chars=22
    // mean x100 = 2200/7 = 314; alpha tokens: good,text,#tag,x9 -> 4
    // symbols: ### and ... (NOT #tag) -> 2; digits: 9,4,2 -> 3 of 28
    assert(got == (1L, 7L, 314L, 571L, 285L, 107L))
  }

  test("dedupDocLines: first occurrence wins in order, counts exact, " +
    "regex-metachar separators are literal, partition-independent") {
    val df = Seq(
      (1L, "a|b|a|c|b|a"),
      (2L, "x"),
      (3L, "same|same|same")).toDF("id", "t")
    val got = TextAnalysis.dedupDocLines(df, "id", "t", sep = "|")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, "a|b|c", 6L, 3L))
    assert(got(2L) == (2L, "x", 1L, 1L))
    assert(got(3L) == (3L, "same", 3L, 1L))
    val re = TextAnalysis.dedupDocLines(df.repartition(7), "id", "t", "|")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(re == got)
  }

  test("encodingSignals: planted corruption counted exactly; clean " +
    "ASCII and empty strings are all-zero") {
    val docs = Seq(
      (1L, "clean ascii"),
      (2L, "bad \ufffd\ufffd here"),          // 2 replacement of 11
      (3L, "ctl\u0007\u000b"),                // 2 C0 controls of 5
      (4L, "caf\u00e9"),                       // 1 non-ascii of 4
      (5L, "")).toDF("id", "t")
    val got = docs.select(
        (col("id") +: TextAnalysis.encodingSignals(col("t"))): _*)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 11L, 0L, 0L, 0L))
    assert(got(2L) == (2L, 11L, 181L, 0L, 181L))
    assert(got(3L) == (3L, 5L, 0L, 400L, 0L))
    assert(got(4L) == (4L, 4L, 0L, 0L, 250L))
    assert(got(5L) == (5L, 0L, 0L, 0L, 0L))
  }

  test("compressionSignals: ratio bands and exact byte accounting") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq(
      (0L, "a" * 4096),                       // constant run
      (1L, "the quick brown fox " * 200),     // repetitive phrase
      (2L, scala.util.Random.javaRandomToRandom(
        new java.util.Random(42)).alphanumeric.take(4096).mkString),
      (3L, ""),                               // empty
      (4L, "héllo 世界")                       // multi-byte
    ).toDF("doc_id", "text")
    val got = TextAnalysis.compressionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (rawA, defA, ratioA) = got(0L)
    assert(rawA == 4096L && defA < 100L && ratioA < 25L)
    assert(got(1L)._3 < 100L)                 // phrase repetition crushes
    assert(got(2L)._3 > 600L)                 // alnum noise barely moves
    assert(got(3L) == ((0L, 2L, 1000L)) || got(3L)._1 == 0L) // empty: raw 0
    assert(got(4L)._1 == "héllo 世界".getBytes("UTF-8").length.toLong)
    // permil arithmetic is integral: d*1000 div raw
    got.values.foreach { case (raw, d, p) =>
      if (raw > 0) assert(p == d * 1000L / raw)
    }
  }

  test("compressionSignals: partition-count independent") {
    val s2 = spark
    import s2.implicits._
    val docs = (0L until 64L).map(i => (i, s"token$i " * (i.toInt + 1)))
      .toDF("doc_id", "text")
    val a = TextAnalysis.compressionSignals(docs.repartition(2),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val b = TextAnalysis.compressionSignals(docs.repartition(9),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(a == b)
  }

  /** The gate's training: per-doc features of (doc_id, text, y), then
    * the GD loop (8 iterations by default, at learning rate 0.5). */
  private def logisticTrain(df: org.apache.spark.sql.DataFrame,
      dim: Int = 1024, iters: Int = 8): org.apache.spark.sql.DataFrame =
    TextAnalysis.logisticTrainOn(TextAnalysis.logisticFeatures(
      df, "doc_id", "text", Some("y"), dim), dim, iters, lrPermil = 500)

  test("logisticTrain separates planted labels and is partition-stable") {
    val s2 = spark
    import s2.implicits._
    val docs = (0L until 40L).map { i =>
      val y = i % 2 == 0
      val marker = if (y) "good good" else "bad bad"
      (i, s"common filler tokens here $marker", y)
    }.toDF("doc_id", "text", "y")
    val m = logisticTrain(docs, dim = 64)
    val scored = TextAnalysis.logisticScoreOn(
        TextAnalysis.logisticFeatures(docs, "doc_id", "text", None, 64),
        m, dim = 64)
      .select(col("id").as("doc_id"), col("accept"))
      .join(docs.select("doc_id", "y"), Seq("doc_id")).collect()
    assert(scored.forall(r => r.getAs[Boolean]("accept") ==
      r.getAs[Boolean]("y")), "trained gate must separate the markers")
    // bit-identical weights under a different partitioning
    val m2 = logisticTrain(docs.repartition(7), dim = 64)
    val w1 = m.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w2 = m2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 == w2)
  }

  test("logisticScore: tokenless docs default to margin 0, p=0.5") {
    val s2 = spark
    import s2.implicits._
    val train = Seq((0L, "good", true), (1L, "bad", false))
      .toDF("doc_id", "text", "y")
    val m = logisticTrain(train, dim = 16, iters = 4)
    val out = TextAnalysis.logisticScore(
        Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text", m,
        dim = 16).head()
    assert(out.getAs[Long]("margin_fp") == 0L)
    assert(out.getAs[Double]("prob") == 0.5d)
  }

  test("logisticTrain rejects bad arguments and empty corpora") {
    val s2 = spark
    import s2.implicits._
    val d = Seq((0L, "x", true)).toDF("doc_id", "text", "y")
    intercept[IllegalArgumentException] {
      logisticTrain(d, dim = 0)
    }
    intercept[IllegalArgumentException] {
      logisticTrain(d.filter("doc_id < 0"))
    }
  }

  test("mojibake repair: inverts the bad transcode, is idempotent on " +
    "clean text, and refuses mixed-damage and non-Latin-1 strings") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      "menu caf\u00c3\u00a9 list",   // Ã© -> é
      "double caf\u00c3\u0083\u00c2\u00a9", // ÃÃ‚-style double damage still < 0x100: one inversion layer peels
      "plain ascii only",
      "\u00c0 la carte",              // real Latin-1, no continuation pair
      "damaged caf\u00c3\u00a9 plus \u20ac euro" // mixed: > 0xFF char present -> untouched
    ).toDF("t")
    val got = rows.select(col("t"),
        TextAnalysis.fixMojibake(col("t")).as("f"),
        TextAnalysis.looksMojibake(col("t")).as("m"))
      .as[(String, String, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got("menu caf\u00c3\u00a9 list")._2 == "menu caf\u00e9 list")
    assert(got("plain ascii only")._2 == "plain ascii only")
    assert(!got("plain ascii only")._3)
    assert(got("\u00c0 la carte")._2 == "\u00c0 la carte") // near-miss kept
    assert(!got("\u00c0 la carte")._3)
    // euro sign (U+20AC) cannot come from Latin-1 -> pass through even
    // though the detector fires
    assert(got("damaged caf\u00c3\u00a9 plus \u20ac euro")._2 ==
      "damaged caf\u00c3\u00a9 plus \u20ac euro")
    assert(got("damaged caf\u00c3\u00a9 plus \u20ac euro")._3)
    // repaired text no longer trips the detector (single application)
    val again = rows.select(TextAnalysis.fixMojibake(
        TextAnalysis.fixMojibake(col("t"))).as("ff"),
      TextAnalysis.fixMojibake(col("t")).as("f"))
    // idempotence holds for single-layer damage; the double-damage row
    // peels one layer per pass by design
    val cnt = again.filter(col("ff") =!= col("f") &&
      !col("f").contains("\u00c3\u0083")).count()
    assert(cnt <= 1L) // only the double-damage row may change again
  }

  test("mojibake repair NEVER manufactures U+FFFD: a string with one " +
    "real C2/C3 pair plus an unrelated high byte whose Latin-1 " +
    "reading is invalid UTF-8 passes through unchanged") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      // detector fires on C3+A9, but the stray 0xE9 (a 3-byte UTF-8
      // lead followed by ASCII) makes the full reading invalid \u2014 the
      // old behavior decoded this to "... caf\u00e9 but \ufffd!"
      "ok caf\u00c3\u00a9 but \u00e9!",
      // bare continuation byte 0x80 after a valid pair: also invalid
      "x\u00c2\u00a9y\u0080z",
      // control: fully-valid reading still repairs
      "menu caf\u00c3\u00a9 list"
    ).toDF("t")
    val got = rows.select(col("t"),
        TextAnalysis.fixMojibake(col("t")).as("f"))
      .as[(String, String)].collect().toMap
    assert(got("ok caf\u00c3\u00a9 but \u00e9!") ==
      "ok caf\u00c3\u00a9 but \u00e9!")
    assert(got("x\u00c2\u00a9y\u0080z") == "x\u00c2\u00a9y\u0080z")
    assert(got("menu caf\u00c3\u00a9 list") == "menu caf\u00e9 list")
    assert(!got.values.exists(_.contains("\ufffd")))
  }
}
