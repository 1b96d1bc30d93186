package graft.ext

import graft.SparkSpec
import org.apache.spark.graftx.CountJobs
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** Suffix-array exact-substring dedup vs ground truth: spans are
  * compared against a brute-force all-pairs LCP on planted fixtures,
  * and differentially against [[Dedup.substringDedup]]'s fixed-L
  * gram approximation on a duplicate the gram method provably
  * under-reports. */
class SuffixArraySpec extends SparkSpec {

  import spark.implicits._

  /** Brute force: for every position, the longest common prefix with
    * any OTHER (doc, pos) suffix; intervals >= minLen merged per doc
    * — the definition [[SuffixArray.duplicatedSpans]] must match. */
  private def bruteSpans(docs: Seq[(Long, String)], minLen: Int)
      : Set[(Long, Long, Long)] = {
    val suff = for ((id, t) <- docs; p <- 0 until t.length)
      yield (id, p, t.substring(p))
    def lcp(a: String, b: String): Int = {
      var i = 0
      while (i < a.length && i < b.length && a(i) == b(i)) i += 1
      i
    }
    val covered = scala.collection.mutable.Set[(Long, Int)]()
    for ((ia, pa, sa) <- suff) {
      var best = 0
      for ((ib, pb, sb) <- suff if (ib, pb) != ((ia, pa)))
        best = math.max(best, lcp(sa, sb))
      if (best >= minLen)
        (pa until pa + best).foreach(p => covered += ((ia, p)))
    }
    // contiguous runs per doc
    covered.groupBy(_._1).flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).toSeq.sorted
      val runs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      sorted.foreach { p =>
        if (runs.nonEmpty && runs.last._2 == p)
          runs(runs.size - 1) = (runs.last._1, p + 1)
        else runs += ((p, p + 1))
      }
      runs.map { case (s, e) => (id, s.toLong, (e - s).toLong) }
    }.toSet
  }

  private def run(docs: Seq[(Long, String)], minLen: Int)
      : Set[(Long, Long, Long)] =
    SuffixArray.duplicatedSpans(
      docs.toDF("doc_id", "text"), "doc_id", "text", minLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  /** Periodic text: its repeats force doubling rounds. */
  private val periodic = Seq((1L, "abc" * 30), (2L, "xyz" + "abc" * 20))

  /** A 147-char self-overlapping repeat: three rounds (widths 64, 128,
    * 256), so the LCP descent crosses three levels and materializes. */
  private val longPeriodic = Seq((1L, "abc" * 50), (2L, "xyz"))

  /** Planted duplicates shorter than InitWidth: no InitWidth-char
    * window repeats, so the seed level is already all-distinct. */
  private val planted = Seq[(Long, String)](
    // cross-doc duplicate of length 21 embedded at different offsets
    (1L, "xx the quick brown fox jumped zz"),
    (2L, "aa bb the quick brown fox jumped cc"),
    // within-doc repeat (overlapping periodic text)
    (3L, "abcabcabcabcabcabcabc"),
    // two docs sharing their entire tail (truncation-collision trap)
    (4L, "unique-head shared ending run"),
    (5L, "other-head X shared ending run"),
    // no duplication at all
    (6L, "entirely singular content 123456"),
    (7L, ""))

  test("round state is a counted leaf: constant-size stats that carry " +
    "the row count (the stats trap a checkpoint leaf falls into)") {
    // a positions frame by hand: every InitWidth-char window plus one
    // sentinel per document
    val rows = periodic.flatMap { case (id, t) =>
      (0 until t.length).map { p =>
        (id, p.toLong, Option(t.substring(p,
          math.min(t.length, p + SuffixArray.InitWidth))))
      } :+ ((id, t.length.toLong, Option.empty[String]))
    }
    val levels = SuffixArray.suffixLevels(rows.toDF("id", "pos", "sub"))
    try {
      assert(levels.size > 1, "fixture must run doubling rounds")
      levels.foreach { lvl =>
        val plan = lvl.ranks.queryExecution.optimizedPlan
        assert(plan.isInstanceOf[LogicalRDD],
          s"width ${lvl.width}: round state is not a fresh leaf\n$plan")
        val stats = plan.stats
        assert(stats.sizeInBytes < BigInt(1L << 20), stats.sizeInBytes)
        assert(stats.rowCount.contains(BigInt(rows.size)))
      }
    } finally SuffixArray.unpersistLevels(levels)
  }

  test("jobs per duplicatedSpans call: 7 for a seed-only build, 17 for " +
    "a two-round build") {
    // the seed scan is 3 of them (range sample, map stage, stats pass):
    // a second seed pass or a count job per round shows here
    val (seedOnly, seedJobs) = CountJobs(SuffixArray.duplicatedSpans(
      planted.toDF("doc_id", "text"), "doc_id", "text", 6))
    val (rounds, roundJobs) = CountJobs(SuffixArray.duplicatedSpans(
      periodic.toDF("doc_id", "text"), "doc_id", "text", 6))
    assert(seedJobs == 7 && roundJobs == 17, s"$seedJobs, $roundJobs")
    Seq(seedOnly, rounds).foreach(_.unpersist(blocking = true))
  }

  test("duplicatedSpans leaves only the returned spans cached") {
    val sc = spark.sparkContext
    val before = sc.emptyRDD[Int].id
    val spans = SuffixArray.duplicatedSpans(
      longPeriodic.toDF("doc_id", "text"), "doc_id", "text", 6)
    val after = sc.emptyRDD[Int].id
    val kept = spans.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }.toSet
    assert(kept.size == 1, "the spans are returned cached")
    val left = sc.getRDDStorageInfo.map(_.id)
      .filter(id => id > before && id < after).toSet
    assert(left == kept, s"construction state still cached: ${left -- kept}")
    spans.unpersist(blocking = true)
  }

  test("planted duplicates: exact maximal extents, cross-doc and " +
    "within-doc, against brute force") {
    val docs = planted
    for (minLen <- Seq(6, 10, 15)) {
      assert(run(docs, minLen) == bruteSpans(docs, minLen),
        s"minLen=$minLen")
    }
  }

  test("adversarial small alphabets and full-document duplicates") {
    val docs = Seq[(Long, String)](
      (1L, "aaaaaaaaaaaaaaaa"),  // 16 a's
      (2L, "aaaaaaaa"),          // 8 a's — full doc duplicated
      (3L, "ababababab"),
      (4L, "babababa")) ++ longPeriodic.map { case (id, t) => (id + 4L, t) }
    for (minLen <- Seq(3, 5, 8))
      assert(run(docs, minLen) == bruteSpans(docs, minLen),
        s"minLen=$minLen")
  }

  test("removeSpans: segment reassembly equals character-level " +
    "removal of covered positions, including no-span and " +
    "all-covered documents") {
    val docs = Seq[(Long, String)](
      (1L, "head SHARED-RUN-OF-TEXT-A tail one"),
      (2L, "pre SHARED-RUN-OF-TEXT-A post two"),
      (3L, "totally unique content here"),
      (4L, "ZZYZXQW-ALL-DUP-DOC"),
      (5L, "ZZYZXQW-ALL-DUP-DOC"),
      (6L, ""))
    val minLen = 10
    val df = docs.toDF("doc_id", "text")
    val spans = SuffixArray.duplicatedSpans(df, "doc_id", "text",
      minLen)
    val cleaned = SuffixArray.removeSpans(df, "doc_id", "text", spans)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // ground truth: drop covered character positions one by one
    val spanSet = spans.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    docs.foreach { case (id, t) =>
      val covered = spanSet.filter(_._1 == id)
        .flatMap(s => s._2 until (s._2 + s._3)).toSet
      val expect = t.zipWithIndex
        .collect { case (c, i) if !covered(i.toLong) => c }.mkString
      assert(cleaned(id) == expect, s"doc $id")
    }
    // docs 4/5 duplicate ENTIRELY — removal empties both (no keeper)
    assert(cleaned(4L) == "" && cleaned(5L) == "")
    assert(cleaned(3L) == "totally unique content here")
  }

  test("differential vs fixed-L substringDedup: a duplicate of few " +
    "WORDS but many characters is invisible to the 8-token gram " +
    "approximation and exact to the suffix array") {
    // 34-char duplicated span, but only 3 whitespace words — below
    // substringDedup's 8-token gram threshold, so the fixed-L pass
    // reports NOTHING while the suffix array finds the exact extent
    val dup = "internationalization-localization extravaganza span"
    val docs = Seq[(Long, String)](
      (1L, s"alpha $dup omega"),
      (2L, s"beta gamma $dup delta"))
    val sa = run(docs, 30)
    assert(sa.nonEmpty, "suffix array must find the long duplicate")
    // exact extent: " <dup> " including the shared flanking spaces
    assert(sa == bruteSpans(docs, 30))
    val fixedL = Dedup.substringDedup(
        docs.toDF("doc_id", "text"), "doc_id", "text", minTokens = 8)
      .filter(col("n_kept") < col("n_tokens")).count()
    assert(fixedL == 0L,
      "gram approximation unexpectedly caught the short-word dup")
  }
}
