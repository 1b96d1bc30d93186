package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("delimited replace IS greedy left-to-right pair merging: " +
    "adjacent sites both merge, overlapping runs merge like the " +
    "reference") {
    val df = Seq("abab", "aaa", "aaaaa", "xa", "bx").toDF("word")
    val merged = df.select(col("word"),
      Bpe.encodeWord(col("word"), Seq(Bpe.Merge(1, "a", "b", 0L)))
        .as("t")).as[(String, Seq[String])].collect().toMap
    assert(merged("abab") == Seq("ab", "ab")) // no shared-delimiter loss
    assert(merged("xa") == Seq("x", "a")) // 'a' suffix is NOT a site
    assert(merged("bx") == Seq("b", "x")) // 'b' prefix is NOT a site
    val aa = df.select(col("word"),
      Bpe.encodeWord(col("word"), Seq(Bpe.Merge(1, "a", "a", 0L)))
        .as("t")).as[(String, Seq[String])].collect().toMap
    assert(aa("aaa") == Seq("aa", "a")) // greedy consumes left first
    assert(aa("aaaaa") == Seq("aa", "aa", "a")) // Sennrich reference
  }

  test("train learns the hand-computable merge sequence, ties break " +
    "lexicographically, freq-weighted counting is per position") {
    // freq-weighted pairs: "aab" x3 -> (a,a)=3 (a,b)=3; "ab" x2 ->
    // (a,b)=2. So (a,b)=5 wins rank 1. After merging: "a ab" x3,
    // "ab" x2 -> (a,ab)=3 wins rank 2.
    val words = Seq(("aab", 3L), ("ab", 2L)).toDF("word", "freq")
    val merges = Bpe.train(words, numMerges = 3)
    assert(merges.map(m => (m.rank, m.left, m.right, m.freq)) ==
      Seq((1, "a", "b", 5L), (2, "a", "ab", 3L)))
    // only 2 merges learnable: third iteration finds single-symbol
    // words only ("aab" -> [a\u00b7ab] -> [aab], "ab" -> [ab]) and stops
    assert(merges.size == 2)
  }

  test("encode applies merges in rank order and flattens words; " +
    "word boundaries never merge") {
    val docs = Seq((1L, "aab ab b"), (2L, ""), (3L, "b a")).toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs, "text")
    val merges = Bpe.train(words, 2)
    val enc = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    assert(enc(1L) == Seq("aab", "ab", "b")) // full-word tokens emerge
    assert(enc(2L) == Seq())
    assert(enc(3L) == Seq("b", "a")) // "b a" stays two tokens
  }

  test("wordFreq is the single corpus pass; train guards reject bad " +
    "geometry; minFreq stops the loop") {
    val docs = Seq((1L, "x y x")).toDF("doc_id", "text")
    val wf = Bpe.wordFreq(docs, "text").as[(String, Long)].collect().toMap
    assert(wf == Map("x" -> 2L, "y" -> 1L))
    intercept[IllegalArgumentException] {
      Bpe.train(wf.toSeq.toDF("word", "freq"), 0)
    }
    intercept[IllegalArgumentException] {
      Bpe.train(wf.toSeq.toDF("word", "freq"), 1, minFreq = 0L)
    }
    // all words single-char: nothing to merge at any minFreq
    assert(Bpe.train(wf.toSeq.toDF("word", "freq"), 5).isEmpty)
  }

  test("encode is map-only: zero shuffle exchanges with a literal " +
    "merge table") {
    val docs = Seq((1L, "aab ab")).toDF("doc_id", "text")
    val df = Bpe.encode(docs, "doc_id", "text",
      Seq(Bpe.Merge(1, "a", "b", 5L), Bpe.Merge(2, "a", "ab", 3L)))
    df.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(df) == 0,
      df.queryExecution.executedPlan.toString)
  }

  test("encode is streaming-NATIVE: the stateless map-only projection " +
    "runs mid-stream unchanged and matches the batch encode") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val merges = Seq(Bpe.Merge(1, "a", "b", 5L), Bpe.Merge(2, "a", "ab", 3L))
    val rows = Seq((1L, "aab ab b"), (2L, "ba aab"))
    val mem = MemoryStream[(Long, String)]
    val q = Bpe.encode(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .writeStream.format("memory").queryName("bpe_enc")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bpe_enc").as[(Long, Seq[String])]
      .collect().toMap
    val batch = Bpe.encode(rows.toDF("doc_id", "text"),
      "doc_id", "text", merges).as[(Long, Seq[String])].collect().toMap
    assert(got == batch)
    assert(got(1L) == Seq("aab", "ab", "b"))
  }

  test("encode is LOSSLESS over 500 adversarial words: tokens " +
    "concatenate back to the word and characters are conserved, for " +
    "merges trained on the same distribution (incl. repeated-char runs)") {
    // deterministic LCG over a tiny alphabet -> dense pair overlap,
    // repeated runs, shared prefixes/suffixes \u2014 the shapes that broke
    // naive delimiter encodings
    var x = 12345L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x >>> 33 }
    val words = (0 until 500).map { _ =>
      val len = 1 + (nxt() % 9).toInt
      (0 until len).map(_ => ('a' + (nxt() % 4).toInt).toChar).mkString
    }
    val df = words.toDF("word")
    val merges = Bpe.train(
      df.groupBy("word").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("freq")), 10)
    assert(merges.size == 10) // dense alphabet: always 10 learnable
    val bad = df.select(col("word"),
        Bpe.encodeWord(col("word"), merges).as("t"))
      .filter(array_join(col("t"), "") =!= col("word") ||
        aggregate(transform(col("t"), s => length(s)),
          lit(0), (a, b) => a + b) =!= length(col("word")))
      .count()
    assert(bad == 0L)
  }

  test("delimit splits on CODE POINTS: a supplementary-plane emoji is " +
    "one symbol, not two surrogate halves; encode stays lossless") {
    val df = Seq("a\ud83d\ude00b", "caf\u00e9").toDF("word")
    val syms = df.select(col("word"),
        Bpe.symbols(Bpe.delimit(col("word"))).as("s"))
      .as[(String, Seq[String])].collect().toMap
    assert(syms("a\ud83d\ude00b") == Seq("a", "\ud83d\ude00", "b"))
    assert(syms("caf\u00e9") == Seq("c", "a", "f", "\u00e9"))
    // lossless through a merge that fuses around the emoji
    val enc = df.select(col("word"), Bpe.encodeWord(col("word"),
        Seq(Bpe.Merge(1, "a", "\ud83d\ude00", 1L))).as("t"))
      .as[(String, Seq[String])].collect().toMap
    assert(enc("a\ud83d\ude00b") == Seq("a\ud83d\ude00", "b"))
    assert(enc("a\ud83d\ude00b").mkString == "a\ud83d\ude00b")
  }

  // ------------------------------------------------------------------
  // Production-vocab scale path: trainLocal / encodeScalable must be
  // bit-identical twins of the SQL-replayable reference loop.
  // ------------------------------------------------------------------

  private def lcgWords(n: Int): Seq[String] = {
    var x = 12345L
    def nxt(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x >>> 33 }
    (0 until n).map { _ =>
      val len = 1 + (nxt() % 9).toInt
      (0 until len).map(_ => ('a' + (nxt() % 4).toInt).toChar).mkString
    }
  }

  test("trainLocal is merge-for-merge identical to the distributed " +
    "train loop: 500-word dense corpus, hand fixture, and early stop") {
    val wf = lcgWords(500).toDF("word")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val k = 10
    assert(Bpe.trainLocal(wf, k) == Bpe.train(wf, k))
    val tiny = Seq(("aab", 3L), ("ab", 2L)).toDF("word", "freq")
    assert(Bpe.trainLocal(tiny, 3) == Bpe.train(tiny, 3)) // early stop at 2
    // deterministic tie-break: equal counts fall to code-point order
    val tie = Seq(("cd", 1L), ("ab", 1L)).toDF("word", "freq")
    assert(Bpe.trainLocal(tie, 2).map(m => (m.left, m.right)) ==
      Seq(("a", "b"), ("c", "d")))
    assert(Bpe.trainLocal(tie, 2) == Bpe.train(tie, 2))
  }

  test("trainLocal CONTINUATION: training k merges in one run equals " +
    "training j then extending with k-j from the shipped table \u2014 ranks " +
    "continue, vocab rewritten under the initial merges first") {
    val wf = lcgWords(500).toDF("word")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val full = Bpe.trainLocal(wf, 12)
    val base = Bpe.trainLocal(wf, 6)
    val extended = base ++ Bpe.trainLocal(wf, 6, initialMerges = base)
    assert(extended == full)
    // continuation ranks pick up where the base left off
    assert(extended.map(_.rank) == (1 to 12))
    // and the extended table encodes identically to the one-shot table
    val docs = Seq((1L, lcgWords(40).mkString(" "))).toDF("doc_id", "text")
    val a = Bpe.encodeScalable(docs, "doc_id", "text", full)
      .as[(Long, Seq[String])].collect().toSeq
    val b = Bpe.encodeScalable(docs, "doc_id", "text", extended)
      .as[(Long, Seq[String])].collect().toSeq
    assert(a == b)
  }

  test("trainLocal guards the driver-state boundary: a vocabulary past " +
    "maxVocabRows is refused, naming the cap") {
    val wf = lcgWords(300).distinct.toSeq.toDF("word")
      .withColumn("freq", lit(1L))
    val e = intercept[IllegalArgumentException] {
      Bpe.trainLocal(wf, 2, maxVocabRows = 10)
    }
    assert(e.getMessage.contains("maxVocabRows"))
  }

  test("trainLocal guards driver BYTES, not just rows: a hostile " +
    "long-word vocabulary under the row cap trips the byte cap " +
    "before anything is collected") {
    // 4 words x 500k chars: 4 rows (far under any row cap) but a
    // ~240 MB estimated footprint at 120 B/char
    val wf = (0 until 4).map(i => ("x" * 500000 + i.toString, 1L))
      .toDF("word", "freq")
    val e = intercept[IllegalArgumentException] {
      Bpe.trainLocal(wf, 1, maxVocabBytes = 64L << 20)
    }
    assert(e.getMessage.contains("maxVocabBytes"), e.getMessage)
    // and a sane vocabulary passes both guards unchanged
    val ok = Seq(("aab", 3L), ("ab", 2L)).toDF("word", "freq")
    assert(Bpe.trainLocal(ok, 2, maxVocabBytes = 64L << 20).size == 2)
  }

  test("encodeScalable is token-for-token identical to the literal-" +
    "replace encode over 500 adversarial words, and stays map-only") {
    val words = lcgWords(500)
    val docs = words.grouped(5).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val merges = Bpe.train(
      words.toDF("word").groupBy("word").agg(count(lit(1)).as("freq")), 10)
    val ref = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    val scaled = Bpe.encodeScalable(docs, "doc_id", "text", merges)
    assert(scaled.as[(Long, Seq[String])].collect().toMap == ref)
    assert(graft.ops.PlanChecks.shuffleExchanges(scaled) == 0,
      scaled.queryExecution.executedPlan.toString)
  }

  test("encodeScalable propagates nulls exactly like the literal-" +
    "replace encode: null text -> null tokens, null id rides through") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "ab ab"), Row(2L, null), Row(null, "ab c")),
      StructType(Seq(StructField("doc_id", LongType, nullable = true),
        StructField("text", StringType, nullable = true))))
    val merges = Seq(Bpe.Merge(1, "a", "b", 5L))
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.collect().map { r =>
        (Option(r.get(0)).map(_.toString.toLong),
          Option(r.get(1))
            .map(_.asInstanceOf[scala.collection.Seq[String]].toList))
      }.toSet
    val ref = norm(Bpe.encode(df, "doc_id", "text", merges))
    val scaled = norm(Bpe.encodeScalable(df, "doc_id", "text", merges))
    assert(scaled == ref)
    assert(scaled.contains((Some(2L), None)), // null text -> null tokens
      scaled.toString)
    assert(scaled.contains((None, Some(List("ab", "c")))), // null id rides
      scaled.toString)
  }

  test("encodeWord refuses a production-size merge table, naming the " +
    "scale twin; encodeScalable takes it without building a k-deep plan") {
    val big = (1 to 5000).map(i => Bpe.Merge(i, s"x$i", s"y$i", 1L))
    val e = intercept[IllegalArgumentException] {
      Bpe.encodeWord(col("w"), big)
    }
    assert(e.getMessage.contains("encodeScalable"))
    val docs = Seq((1L, "ab x1y1")).toDF("doc_id", "text")
    // 5000 merges, none applicable: plan size independent of k
    val out = Bpe.encodeScalable(docs, "doc_id", "text", big)
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("a", "b", "x", "1", "y", "1"))
  }

  test("encodeScalable is streaming-NATIVE too: the stateless " +
    "mapPartitions projection runs mid-stream and matches the batch " +
    "scalable encode") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val merges = Seq(Bpe.Merge(1, "a", "b", 5L), Bpe.Merge(2, "a", "ab", 3L))
    val rows = Seq((1L, "aab ab b"), (2L, "ba aab"))
    val mem = MemoryStream[(Long, String)]
    val q = Bpe.encodeScalable(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .writeStream.format("memory").queryName("bpe_enc_scaled")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bpe_enc_scaled").as[(Long, Seq[String])]
      .collect().toMap
    val batch = Bpe.encodeScalable(rows.toDF("doc_id", "text"),
      "doc_id", "text", merges).as[(Long, Seq[String])].collect().toMap
    assert(got == batch)
    assert(got(1L) == Seq("aab", "ab", "b"))
  }

  // Fixed checked-in merge table + hand-computed encodings \u2014 the
  // tokenizer-apply fidelity audit. Every expected array below was
  // derived BY HAND from the rank-order semantics (each merge is one
  // greedy left-to-right non-overlapping pass, ranks ascending, a
  // passed rank never revisited). Rank 1 (x+est) can only ever fire if
  // "est" already exists, which ranks 2-3 create LATER \u2014 the documented
  // rank-order vs iterate-lowest-rank divergence class.
  private val fidelityMerges = Seq(
    Bpe.Merge(1, "x", "est", 0L), Bpe.Merge(2, "e", "s", 0L),
    Bpe.Merge(3, "es", "t", 0L), Bpe.Merge(4, "t", "h", 0L),
    Bpe.Merge(5, "th", "e", 0L), Bpe.Merge(6, "a", "n", 0L),
    Bpe.Merge(7, "an", "d", 0L), Bpe.Merge(8, "i", "n", 0L),
    Bpe.Merge(9, "in", "g", 0L), Bpe.Merge(10, "o", "o", 0L),
    Bpe.Merge(11, "oo", "oo", 0L), Bpe.Merge(12, "s", "t", 0L))

  private val fidelityVectors: Seq[(String, Seq[String])] = Seq(
    // DIVERGENCE: rank-order leaves [x, est] (rank 1 passed before
    // "est" exists); an iterate-lowest-rank encoder would emit [xest]
    "xest" -> Seq("x", "est"),
    "xestx" -> Seq("x", "est", "x"), // same divergence mid-word
    "test" -> Seq("t", "est"), // (s,t) rank 12 starved by rank 3
    "the" -> Seq("the"),
    "then" -> Seq("the", "n"),
    "thethe" -> Seq("the", "the"), // two sites in one pass, twice
    "es" -> Seq("es"),
    "best" -> Seq("b", "est"),
    "sets" -> Seq("s", "e", "t", "s"), // no pair matches any merge
    "esthe" -> Seq("est", "h", "e"), // est consumes t; (t,h) starved
    "testing" -> Seq("t", "est", "ing"),
    "and" -> Seq("and"),
    "sand" -> Seq("s", "and"),
    "anand" -> Seq("an", "and"), // left-to-right: first (a,n) wins
    "andand" -> Seq("and", "and"),
    "xthe" -> Seq("x", "the"), // no (x,the) merge exists
    "ing" -> Seq("ing"),
    "ningn" -> Seq("n", "ing", "n"),
    "oooo" -> Seq("oooo"), // repeated-run ladder
    "ooooo" -> Seq("oooo", "o"),
    "oooooo" -> Seq("oooo", "oo"),
    "ooooooo" -> Seq("oooo", "oo", "o"),
    "st" -> Seq("st"),
    "star" -> Seq("st", "a", "r"),
    "stest" -> Seq("st", "est"), // rank 12 fires AFTER rank 3's est
    "esest" -> Seq("es", "est"), // shared-prefix merge contention
    "ses" -> Seq("s", "es"),
    "tht" -> Seq("th", "t"),
    "ests" -> Seq("est", "s"),
    "a" -> Seq("a"))

  test("tokenizer-apply fidelity: 30 hand-computed vectors under a " +
    "fixed merge table \u2014 BOTH encoders match, including the rank-order " +
    "vs iterate-lowest-rank divergence words") {
    val df = fidelityVectors.map(_._1).toDF("word")
    val viaChain = df.select(col("word"),
        Bpe.encodeWord(col("word"), fidelityMerges).as("t"))
      .as[(String, Seq[String])].collect().toMap
    val idx = Bpe.mergeIndex(fidelityMerges)
    fidelityVectors.foreach { case (w, expected) =>
      assert(viaChain(w) == expected, s"encodeWord($w)")
      assert(Bpe.encodeWordLocal(w, idx).toSeq == expected,
        s"encodeWordLocal($w)")
    }
    // and the full-document scalable path agrees on the joined stream
    val docs = Seq((1L, fidelityVectors.map(_._1).mkString(" ")))
      .toDF("doc_id", "text")
    val enc = Bpe.encodeScalable(docs, "doc_id", "text", fidelityMerges)
      .as[(Long, Seq[String])].collect().head._2
    assert(enc == fidelityVectors.flatMap(_._2))
  }

  test("GPT-2-family pretokenizer: contractions, space-prefixed runs, " +
    "digit/punct classes, whitespace-run fallback, and the U+0120 " +
    "space marker keep pretokens delimiter-free and lossless") {
    val cases = Seq(
      "hello world" -> Seq("hello", "\u0120world"),
      "it's" -> Seq("it", "'s"),
      "don't stop" -> Seq("don", "'t", "\u0120stop"),
      "abc123" -> Seq("abc", "123"),
      "x2 3y" -> Seq("x", "2", "\u01203", "y"),
      "Hello, world!!" -> Seq("Hello", ",", "\u0120world", "!!"),
      "I'm ok" -> Seq("I", "'m", "\u0120ok"),
      "e.g. test" -> Seq("e", ".", "g", ".", "\u0120test"),
      // no-lookahead deviation (documented): a multi-space run binds
      // to \s+ whole, not "all but the last space"
      "  a" -> Seq("\u0120\u0120", "a"),
      "a\nb" -> Seq("a", "\n", "b"))
    val got = cases.map(_._1).toDF("text")
      .select(col("text"), Bpe.pretokenize(col("text")).as("p"))
      .as[(String, Seq[String])].collect().toMap
    cases.foreach { case (t, expected) =>
      assert(got(t) == expected, s"pretokenize($t)")
      assert(!expected.exists(_.contains(" ")), "delimiter-free")
      assert(got(t).mkString.replace('\u0120', ' ') == t, "lossless")
    }
    val wf = Bpe.wordFreqPretok(
      Seq((1L, "it's it's nice")).toDF("doc_id", "text"), "text")
      .as[(String, Long)].collect().toMap
    assert(wf == Map("it" -> 1L, "'s" -> 2L, "\u0120it" -> 1L,
      "\u0120nice" -> 1L))
  }

  // ------------------------------------------------------------------
  // Byte-level alphabet (GPT-2 parity)
  // ------------------------------------------------------------------

  test("ByteToUnicode is GPT-2's fixed bijection: printable identity, " +
    "68 bytes shifted in byte order, space lands on U+0120, base " +
    "alphabet bounded at 256 symbols") {
    assert(Bpe.ByteToUnicode.length == 256)
    assert(Bpe.ByteToUnicode.distinct.length == 256) // bijection
    assert(Bpe.ByteToUnicode(' '.toInt) == 0x120) // the G-dot marker
    assert(Bpe.ByteToUnicode(0) == 256) // first shifted byte
    assert(Bpe.ByteToUnicode(0x7f) == 256 + 33) // DEL follows 0x00-0x20
    assert(Bpe.ByteToUnicode(0xad) == 323) // soft hyphen, last shift
    assert(Bpe.ByteToUnicode('!'.toInt) == '!'.toInt) // printable id
    assert(Bpe.ByteToUnicode(0xff) == 0xff)
    assert(Bpe.ByteToUnicode.max == 323) // bounded alphabet
    (0 until 256).foreach { b =>
      assert(Bpe.UnicodeToByte(Bpe.ByteToUnicode(b)) == b)
    }
  }

  test("byte-level map is lossless on ARBITRARY bytes (invalid UTF-8 " +
    "included) via the local twins, and Column map/invert round-trips " +
    "emoji/CJK/control strings and matches the local twin exactly") {
    // hostile raw bytes \u2014 mostly NOT valid UTF-8; the map never
    // decodes, so it must round-trip regardless
    var s = 12345L
    (1 to 50).foreach { i =>
      val bytes = Array.fill(i % 17 + 1) {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 33).toByte
      }
      val mapped = Bpe.byteMapLocal(bytes)
      assert(mapped.length == bytes.length) // one char per byte
      assert(Bpe.byteUnmapLocal(mapped).toSeq == bytes.toSeq)
    }
    // Column path: emoji (4-byte UTF-8), CJK (3-byte), accents
    // (2-byte), combining marks, controls, NBSP/soft hyphen
    val texts = Seq("hello world", "caf\u00e9 \u4e2d\u6587",
      "\ud83d\ude00 ok", "a\tb\nc", "\u00a0\u00ad",
      "mixed \ud83c\udf09\u4e2d e\u0301")
    val got = texts.toDF("t").select(col("t"),
        Bpe.byteLevel(col("t")).as("m"),
        Bpe.byteLevelInvert(Bpe.byteLevel(col("t"))).as("rt"))
      .as[(String, String, String)].collect()
    got.foreach { case (t, m, rt) =>
      assert(rt == t, s"round trip of '$t'")
      assert(m == Bpe.byteMapLocal(
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8)), s"'$t'")
      assert(!m.contains(' '), "mapped form is delimiter-free")
    }
  }

  test("byte-level train + encode: initial symbols are single mapped " +
    "bytes, multi-byte chars merge from bytes, the scalable encoder " +
    "is the literal-chain twin incl. nulls, and tokens invert to the " +
    "original document bytes") {
    val docs = Seq(
      (1L, "caf\u00e9 caf\u00e9 \u4e2d\u6587 ok"),
      (2L, "caf\u00e9 au lait \u4e2d"),
      (3L, "\ud83d\ude00 caf\u00e9")).toDF("doc_id", "text")
    val wf = Bpe.wordFreqBytes(docs, "text")
    val syms = wf.as[(String, Long)].collect()
      .flatMap(w => Bpe.splitCodePoints(w._1))
    assert(syms.forall(sym =>
      sym.length == 1 && Bpe.UnicodeToByte.contains(sym.head.toInt)),
      syms.mkString(","))
    val merges = Bpe.trainLocal(wf, 8)
    assert(merges.nonEmpty)
    val ref = Bpe.encodeBytes(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    val scaled = Bpe.encodeBytesScalable(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    assert(scaled == ref)
    // decode side: pretokens tile the text, so the token stream
    // reassembles the byte-mapped form; inverting recovers the
    // original UTF-8 bytes exactly
    val originals = docs.as[(Long, String)].collect().toMap
    ref.foreach { case (id, toks) =>
      assert(Bpe.byteUnmapLocal(toks.mkString).toSeq ==
        originals(id).getBytes(
          java.nio.charset.StandardCharsets.UTF_8).toSeq, s"doc $id")
    }
    // null semantics mirror encodeScalable
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val withNulls = spark.createDataFrame(
      java.util.Arrays.asList(Row(9L, null), Row(null, "ok")),
      StructType(Seq(StructField("doc_id", LongType, nullable = true),
        StructField("text", StringType, nullable = true))))
    val nullGot = Bpe.encodeBytesScalable(withNulls, "doc_id", "text",
        merges).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(nullGot.exists(p => p._1 == Some(9L) && p._2.isEmpty))
    assert(nullGot.exists(p => p._1.isEmpty && p._2.nonEmpty))
  }

  test("byte-level surface composes with continuation training, and " +
    "byte-level encode is lossless over the WHOLE fixture corpus: " +
    "every document's token stream inverts to its exact UTF-8 bytes") {
    val docs = graft.Tables.documents(spark, sfDir)
    val wf = Bpe.wordFreqBytes(docs, "text")
    // continuation invariant holds on byte-level symbols too
    val full = Bpe.trainLocal(wf, 10)
    val base = Bpe.trainLocal(wf, 6)
    val extended = base ++ Bpe.trainLocal(wf, 4, initialMerges = base)
    assert(extended == full)
    // corpus-wide losslessness: pretokens tile the text and the byte
    // map never decodes, so unmap(concat(tokens)) == original bytes
    // for every document — checked doc by doc
    val enc = Bpe.encodeBytesScalable(docs, "doc_id", "text", full)
      .select(col("doc_id"), concat_ws("", col("tokens")).as("joined"))
    val bad = docs.select(col("doc_id"), col("text"))
      .join(enc, Seq("doc_id"))
      .filter(Bpe.byteLevelInvert(col("joined")) =!= col("text"))
      .count()
    assert(bad == 0L, s"$bad documents failed byte-level round-trip")
  }

  test("encodeBytesScalable is streaming-NATIVE: the stateless " +
    "byte-level mapPartitions projection runs mid-stream and matches " +
    "the batch encode") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq((1L, "caf\u00e9 ok caf\u00e9"), (2L, "\u4e2d ok"))
    val merges = Bpe.trainLocal(
      Bpe.wordFreqBytes(rows.toDF("doc_id", "text"), "text"), 6)
    val mem = MemoryStream[(Long, String)]
    val q = Bpe.encodeBytesScalable(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .writeStream.format("memory").queryName("bpe_enc_bytes")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bpe_enc_bytes").as[(Long, Seq[String])]
      .collect().toMap
    val batch = Bpe.encodeBytesScalable(rows.toDF("doc_id", "text"),
      "doc_id", "text", merges).as[(Long, Seq[String])].collect().toMap
    assert(got == batch)
    // tokens invert to the original bytes even mid-stream
    assert(Bpe.byteUnmapLocal(got(1L).mkString).toSeq ==
      "caf\u00e9 ok caf\u00e9".getBytes(
        java.nio.charset.StandardCharsets.UTF_8).toSeq)
  }

  test("merge table round-trips through parquet: the shipped artifact " +
    "reproduces the encoder exactly") {
    val words = Seq(("aab", 3L), ("ab", 2L)).toDF("word", "freq")
    val merges = Bpe.train(words, 2)
    val dir = specTempDir("bpe-merges")
      .resolve("m").toString
    Bpe.mergeTable(spark, merges).write.parquet(dir)
    val loaded = spark.read.parquet(dir)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect()
      .map { case (r, l, rr, f) => Bpe.Merge(r, l, rr, f) }.toSeq
    assert(loaded == merges)
    val docs = Seq((1L, "aab ab b")).toDF("doc_id", "text")
    val a = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toSeq
    val b = Bpe.encode(docs, "doc_id", "text", loaded)
      .as[(Long, Seq[String])].collect().toSeq
    assert(a == b)
  }

  test("tokenizer artifact store: save -> load round-trips the merge " +
    "table, surface flag and pattern exactly, and encoding from the " +
    "reloaded artifact is token-identical to the in-memory path on " +
    "BOTH surfaces, nulls included") {
    val root = specTempDir("bpe-artifact")
    val docs = Seq((1L, "the café? isn't 42 the answer"),
      (2L, null.asInstanceOf[String]), (3L, "aab ab b aab"))
      .toDF("doc_id", "text")
    // byte-level surface
    val mB = Bpe.trainLocal(Bpe.wordFreqBytes(docs, "text"), 6)
    val dirB = root.resolve("byte").toString
    Bpe.saveTokenizer(spark, dirB, mB, byteLevel = true)
    val artB = Bpe.loadTokenizer(spark, dirB)
    assert(artB.merges == mB && artB.byteLevel &&
      artB.pretokPattern == Bpe.PretokPattern)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[String])].collect().toSet
    assert(snap(Bpe.encodeWithArtifact(docs, "doc_id", "text", artB)) ==
      snap(Bpe.encodeBytesScalable(docs, "doc_id", "text", mB)))
    // whitespace surface
    val mW = Bpe.trainLocal(Bpe.wordFreq(docs, "text"), 4)
    val dirW = root.resolve("ws").toString
    Bpe.saveTokenizer(spark, dirW, mW, byteLevel = false)
    val artW = Bpe.loadTokenizer(spark, dirW)
    assert(artW.merges == mW && !artW.byteLevel)
    assert(snap(Bpe.encodeWithArtifact(docs, "doc_id", "text", artW)) ==
      snap(Bpe.encodeScalable(docs, "doc_id", "text", mW)))
    // publish protocol: a re-save OVERWRITES (one live copy), and a
    // retrained artifact fully replaces the old table
    Bpe.saveTokenizer(spark, dirB, mB.take(2), byteLevel = true)
    assert(Bpe.loadTokenizer(spark, dirB).merges == mB.take(2))
  }

  test("idVocab: GPT-2 id assignment — alphabet chars take their " +
    "byte value, merge products take 255 + rank, a duplicate product " +
    "string keeps the FIRST rank, products never shadow the alphabet") {
    // two merges minting the same product "abc": (ab,c) at rank 2 and
    // (a,bc) at rank 3 — the duplicate must keep rank 2's id
    val merges = Seq(
      Bpe.Merge(1, "a", "b", 9L),
      Bpe.Merge(2, "ab", "c", 5L),
      Bpe.Merge(3, "a", "bc", 4L))
    val v = Bpe.idVocab(merges)
    // alphabet: id = byte value, in ByteToUnicode order
    assert(v("a") == 'a'.toInt.toLong && v("A") == 'A'.toInt.toLong)
    assert(v(new String(Character.toChars(Bpe.ByteToUnicode(0)))) == 0L)
    assert(v(new String(Character.toChars(Bpe.ByteToUnicode(32)))) ==
      32L) // 0x20 -> U+0120, id 32
    // products
    assert(v("ab") == 256L && v("abc") == 257L)
    assert(v.size == 256 + 2) // the rank-3 duplicate minted no entry
    // ids are unique (an id stream must invert)
    assert(v.values.toSeq.distinct.size == v.size)
  }

  test("idVocabInverse: the integer shard is self-contained — " +
    "encode -> ids -> decode reproduces the text, bytes exactly") {
    import spark.implicits._
    // multi-byte UTF-8, contractions, digits, punctuation, newline
    val texts = Seq("naïve re-joins: it's 42°, héllo\nworld  !",
      "", "ab ab ab abc")
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.trainLocal(Bpe.wordFreqBytes(df, "text"), 8)
    val v = Bpe.idVocab(merges)
    val inv = Bpe.idVocabInverse(merges)
    assert(inv.size == v.size)
    val decoded = Bpe.encodeBytesScalable(df, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
      .map { case (id, toks) =>
        val ids = toks.map(v) // the shard: ids only
        id -> new String(
          Bpe.byteUnmapLocal(ids.map(inv).mkString("")),
          java.nio.charset.StandardCharsets.UTF_8)
      }
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(decoded(i.toLong) == t, s"doc $i failed round trip")
    }
  }

  test("domain-adapt lifecycle: base -> store -> continuation -> " +
    "store -> encode is identical to the in-memory composition, and " +
    "adapted ranks extend the base contiguously") {
    val root = specTempDir("bpe-adapt-spec")
    val d0 = Seq(("aab", 3L), ("ab", 2L)).toDF("word", "freq")
    val d1 = Seq(("abb", 4L), ("bb", 1L)).toDF("word", "freq")
    val base = Bpe.trainLocal(d0, 2)
    Bpe.saveTokenizer(spark, root.resolve("b").toString, base,
      byteLevel = false)
    val loaded = Bpe.loadTokenizer(spark, root.resolve("b").toString)
    val more = Bpe.trainLocal(d1, 2, initialMerges = loaded.merges)
    // the store round-trip must not perturb the continuation
    assert(more == Bpe.trainLocal(d1, 2, initialMerges = base))
    assert(more.map(_.rank) == (base.size + 1 to base.size + more.size))
    Bpe.saveTokenizer(spark, root.resolve("a").toString, base ++ more,
      byteLevel = false)
    val art = Bpe.loadTokenizer(spark, root.resolve("a").toString)
    assert(art.merges == base ++ more)
    val docs = Seq((1L, "aab abb bb ab"), (2L, "b a"))
      .toDF("doc_id", "text")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[String])].collect().toSet
    assert(snap(Bpe.encodeWithArtifact(docs, "doc_id", "text", art)) ==
      snap(Bpe.encodeScalable(docs, "doc_id", "text", base ++ more)))
  }

  test("tokenizer artifact store guards: future version, foreign " +
    "pretokenizer pattern, truncated merges table and non-contiguous " +
    "ranks are all refused loudly instead of mis-encoding") {
    val root = specTempDir("bpe-artifact-g")
    val merges = Seq(Bpe.Merge(1, "a", "b", 3L), Bpe.Merge(2, "a", "ab", 2L))
    val dir = root.resolve("t").toString
    Bpe.saveTokenizer(spark, dir, merges, byteLevel = true)
    assert(Bpe.loadTokenizer(spark, dir).merges == merges)
    def meta(v: Int, bl: Boolean, pat: String, n: Int): Unit =
      Seq((v, bl, pat, n))
        .toDF("version", "byte_level", "pretok_pattern", "n_merges")
        .coalesce(1).write.mode("overwrite").parquet(dir + "/meta")
    // future format version
    meta(2, true, Bpe.PretokPattern, 2)
    val e1 = intercept[IllegalArgumentException](
      Bpe.loadTokenizer(spark, dir))
    assert(e1.getMessage.contains("version"), e1.getMessage)
    // pattern this build's encoder does not implement
    meta(1, true, "\\w+", 2)
    val e2 = intercept[IllegalArgumentException](
      Bpe.loadTokenizer(spark, dir))
    assert(e2.getMessage.contains("pretokenizer"), e2.getMessage)
    // truncated merges table (meta says 2 rows, table has 1)
    meta(1, true, Bpe.PretokPattern, 2)
    Bpe.mergeTable(spark, merges.take(1))
      .write.mode("overwrite").parquet(dir + "/merges")
    val e3 = intercept[IllegalArgumentException](
      Bpe.loadTokenizer(spark, dir))
    assert(e3.getMessage.contains("truncated"), e3.getMessage)
    // duplicate rank with an agreeing count: contiguity catches it
    Bpe.mergeTable(spark,
        Seq(Bpe.Merge(1, "a", "b", 3L), Bpe.Merge(1, "x", "y", 1L)))
      .write.mode("overwrite").parquet(dir + "/merges")
    val e4 = intercept[IllegalArgumentException](
      Bpe.loadTokenizer(spark, dir))
    assert(e4.getMessage.contains("contiguous"), e4.getMessage)
    // save-side guards: empty table, non-contiguous ranks
    intercept[IllegalArgumentException](
      Bpe.saveTokenizer(spark, dir, Nil, byteLevel = true))
    intercept[IllegalArgumentException](
      Bpe.saveTokenizer(spark, dir,
        Seq(Bpe.Merge(2, "a", "b", 1L)), byteLevel = true))
  }
}
