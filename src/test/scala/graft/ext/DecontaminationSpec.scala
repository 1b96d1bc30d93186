package graft.ext

import graft.SparkSpec

class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  test("planted benchmark overlap is found; clean docs are not flagged") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bid", "text")
    val corpus = Seq(
      // shares exactly one 5-gram: "quick brown fox jumps over"
      (10L, "a quick brown fox jumps over fences daily"),
      (11L, "completely unrelated words with zero shared grams here"),
      // exact copy: every 5-gram hits
      (12L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val byId = Decontamination
      .ngramHits(corpus, "doc_id", "text", bench, "text", 5)
      .select("doc_id", "n_hits", "n_sh").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!byId.contains(11L))
    assert(byId(10L) == ((1L, 4L)))
    assert(byId(12L) == ((5L, 5L))) // full containment
  }

  test("docs shorter than n produce no shingles and never match") {
    val bench = Seq((1L, "a b c d e f")).toDF("bid", "text")
    val corpus = Seq((10L, "a b c")).toDF("doc_id", "text")
    assert(Decontamination
      .ngramHits(corpus, "doc_id", "text", bench, "text", 5).count() == 0)
  }
  test("bloom path: no false negatives (every exact hit probes " +
    "positive), bitmap is bounded state, guards reject bad geometry") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bid", "text")
    val corpus = Seq(
      (10L, "a quick brown fox jumps over fences daily"), // 1 exact hit
      (11L, "completely unrelated words with zero shared grams here"),
      (12L, "the quick brown fox jumps over the lazy dog") // all hit
    ).toDF("doc_id", "text")
    val bits = Decontamination.bloomBits(bench, "text", n = 5,
      mBits = 4096, k = 3)
    assert(bits.length == 4096 / 32)
    assert(bits.forall(w => w >= 0L && w < (1L << 32))) // 32-bit packing
    val bloom = Decontamination
      .bloomFlags(corpus, "doc_id", "text", bits, 4096, 3, 5)
      .select("doc_id", "n_sh", "bloom_hits", "flagged")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // superset of the exact hits: >= 1 and >= 5 respectively
    assert(bloom(10L)._3 >= 1L && bloom(10L)._4)
    assert(bloom(12L)._3 >= 5L && bloom(12L)._4)
    // doc 11 may only flag through a (deterministic) false positive;
    // with 5 bench shingles in 4096 bits the fill is ~0.4%, so the
    // 3-probe FP rate is ~5e-8 \u2014 assert the clean doc stays clean
    assert(bloom(11L)._3 == 0L && !bloom(11L)._4, bloom(11L).toString)
    intercept[IllegalArgumentException] {
      Decontamination.bloomBits(bench, "text", 5, mBits = 100, k = 3)
    }
    intercept[IllegalArgumentException] {
      Decontamination.bloomFlags(corpus, "doc_id", "text",
        new Array[Long](3), 4096, 3, 5)
    }
  }

  test("SALTED bloom: the guarantee structure is salt-invariant (no " +
    "false negatives, clean docs clean under every salt), the empty " +
    "salt reproduces the unsalted bitmap bit for bit, and bitmaps " +
    "built under different salts share no position structure") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bid", "text")
    val corpus = Seq(
      (10L, "a quick brown fox jumps over fences daily"), // 1 exact hit
      (11L, "completely unrelated words with zero shared grams here"),
      (12L, "the quick brown fox jumps over the lazy dog") // all hit
    ).toDF("doc_id", "text")
    val unsalted = Decontamination.bloomBits(bench, "text", 5, 4096, 3)
    // empty salt == the unsalted build, bit for bit
    assert(Decontamination.bloomBits(bench, "text", 5, 4096, 3,
      salt = "").toSeq == unsalted.toSeq)
    // differential across salts: for EVERY salt, build+probe under the
    // SAME salt keeps the contract \u2014 exact hits flagged (no false
    // negatives holds for any hash family), the clean doc stays clean
    // (fill ~0.4%, 3-probe FP ~5e-8)
    val verdicts = Seq("", "s3cr3t", "another-key", "\u00e9poch-7")
      .map { salt =>
        val bits = Decontamination.bloomBits(bench, "text", 5, 4096, 3,
          salt)
        val got = Decontamination
          .bloomFlags(corpus, "doc_id", "text", bits, 4096, 3, 5, salt)
          .select("doc_id", "n_sh", "bloom_hits", "flagged")
          .as[(Long, Long, Long, Boolean)].collect()
          .map(r => r._1 -> r).toMap
        assert(got(10L)._3 >= 1L && got(10L)._4, s"salt '$salt'")
        assert(got(12L)._3 >= 5L && got(12L)._4, s"salt '$salt'")
        assert(got(11L)._3 == 0L && !got(11L)._4, s"salt '$salt'")
        // FLAG verdicts identical across salts: FP behavior modulo
        // the salt \u2014 same hits, same (fill)^k law, only the (secret)
        // positions move
        (got(10L)._4, got(11L)._4, got(12L)._4)
      }
    assert(verdicts.distinct.size == 1, verdicts.toString)
    // the keyed positions actually move: a salted bitmap is not the
    // unsalted one (this is what blocks dictionary tests without the
    // salt), and probing with the WRONG salt loses the guarantee \u2014
    // exact hits are no longer guaranteed to probe positive
    val salted = Decontamination.bloomBits(bench, "text", 5, 4096, 3,
      salt = "s3cr3t")
    assert(salted.toSeq != unsalted.toSeq)
    val wrongSalt = Decontamination
      .bloomFlags(corpus, "doc_id", "text", salted, 4096, 3, 5,
        salt = "different")
      .select("doc_id", "bloom_hits").as[(Long, Long)].collect().toMap
    assert(wrongSalt(12L) < 5L,
      s"mismatched salt must not reproduce the keyed probes: $wrongSalt")
  }

  test("bloom probe is map-only on the corpus side: the only " +
    "exchange is the final projection's \u2014 no join anywhere") {
    val bench = Seq((1L, "a b c d e f")).toDF("bid", "text")
    val corpus = Seq((10L, "a b c d e f g")).toDF("doc_id", "text")
    val bits = Decontamination.bloomBits(bench, "text", 5, 4096, 3)
    val df = Decontamination.bloomFlags(corpus, "doc_id", "text",
      bits, 4096, 3, 5)
    df.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(df) == 0,
      df.queryExecution.executedPlan.toString)
  }
}
