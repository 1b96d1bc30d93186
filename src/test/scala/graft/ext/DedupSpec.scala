package graft.ext

import graft.SparkSpec
import graft.ops.Materialize
import org.apache.spark.graftx.CountJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** The differential reference for every exact-Jaccard leg: set
    * Jaccard of each id pair, brute force on the driver — (id_a, id_b,
    * inter, un) for the pairs sharing a shingle with J >= threshold. */
  private def bruteJaccard(df: DataFrame, n: Int, threshold: Double)
      : Set[(Long, Long, Long, Long)] = {
    val sets = df.select(col("doc_id"), Dedup.shingles(col("text"), n))
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => (id, Option(sh).getOrElse(Nil).toSet) }
      .sortBy(_._1)
    (for {
      i <- sets.indices
      j <- i + 1 until sets.length
      (ia, a) = sets(i)
      (ib, b) = sets(j)
      inter = a.intersect(b).size.toLong
      un = a.size + b.size - inter
      if inter > 0 && inter.toDouble / un >= threshold
    } yield (ia, ib, inter, un)).toSet
  }

  private def pairKeys(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("id_a", "id_b", "inter", "un")
      .as[(Long, Long, Long, Long)].collect().toSet

  /** Every id_a < id_b pair of the index's docs: the candidate set
    * under which a re-rank leg is an all-pairs join. */
  private def allPairs(idx: DataFrame): DataFrame = {
    val ids = idx.select("id").distinct()
    ids.select(col("id").as("id_a"))
      .crossJoin(ids.select(col("id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
  }

  /** Each exact-Jaccard leg, called directly, and both entries equal
    * [[bruteJaccard]] on `df`; returns the measured vocabulary. */
  private def assertLegsMatchBruteForce(df: DataFrame, n: Int,
      thresholds: Seq[Double]): Long = {
    val idx = Materialize(Dedup.tokenIndex(df, "doc_id", "text", n),
      eager = true)
    val vocab = Dedup.vocabulary(idx)
    val cand = allPairs(idx)
    val masks = Dedup.tokenMasks(idx, vocab)
    for (t <- thresholds) {
      val want = bruteJaccard(df, n, t)
      assert(want.nonEmpty, s"t=$t n=$n: the reference must have pairs")
      val atT = col("jaccard") >= t
      Seq(
        "bitsetPairs" -> Dedup.bitsetPairs(idx, vocab, t),
        "jaccardPairsPrefix" ->
          Dedup.jaccardPairsPrefix(df, "doc_id", "text", n, t),
        "popcountRerank" -> Dedup.popcountRerank(cand, masks).filter(atT),
        "postingRerank" -> Dedup.postingRerank(cand, idx).filter(atT),
        "jaccardPairs" -> Dedup.jaccardPairs(df, "doc_id", "text", n, t),
        "candidateJaccard" -> Dedup.candidateJaccard(cand, idx).filter(atT)
      ).foreach { case (leg, out) =>
        val got = pairKeys(out)
        assert(got == want, s"$leg at t=$t n=$n (vocabulary ${vocab.size}): " +
          s"extra ${got -- want}, missing ${want -- got}")
      }
    }
    Seq(idx, vocab.freq).foreach(Materialize.release)
    vocab.size
  }

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "dog lazy the over jumps fox brown quick the"),   // reordering of 0
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup (1 tok)
    (4L, "completely different text about spark engines"),
    (5L, "another unrelated document mentioning nothing relevant")
  ).toDF("doc_id", "text")

  test("exact dedup keeps first id per content") {
    val out = Dedup.keepFirstExact(docs, "doc_id", "text")
      .orderBy("doc_id").select("doc_id", "n_copies")
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("token-set signature unifies reorderings but not near dups") {
    val sigs = docs.select(col("doc_id"),
      Dedup.tokenSetSignature(col("text")).as("sig"))
      .as[(Long, String)].collect().toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) == sigs(2L))   // reordering: same distinct-token set
    assert(sigs(0L) != sigs(3L))
  }

  test("minhash signatures identical for same token set, close for near dup") {
    val mh = docs.select(col("doc_id"), Dedup.minhashes(col("text"), 16).as("mh"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(mh(0L) == mh(2L))
    assert(mh(0L) != mh(4L))
    val agree03 = mh(0L).zip(mh(3L)).count { case (a, b) => a == b }
    val agree04 = mh(0L).zip(mh(4L)).count { case (a, b) => a == b }
    assert(agree03 > agree04, s"near dup $agree03 vs unrelated $agree04")
  }

  test("simhash: hamming 0 for reorderings, small for near dups, large otherwise") {
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text"), 24).as("s"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) == 0)
    assert(ham(sh(0L), sh(3L)) < ham(sh(0L), sh(4L)))
  }

  test("3-gram shingles catch ordered dups, miss reorderings") {
    val sh3 = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh3(0L).toSet == sh3(1L).toSet)
    assert(sh3(0L).toSet.intersect(sh3(2L).toSet).isEmpty) // reordered
    assert(sh3(0L).size == 7) // 9 tokens -> 7 trigrams
  }

  test("jaccardPairs n=1 finds reordering + near dup above threshold") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1,
        threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)) &&
      pairs.contains((1L, 2L)))
    assert(pairs.contains((0L, 3L)))   // 8/10 = 0.8 >= 0.7... (7 shared of 8/8)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccardPairs n=3 only pairs ordered dups") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("bitset Jaccard equals posting-list Jaccard (threshold 0.7, n=1)") {
    val idx = Dedup.tokenIndex(docs, "doc_id", "text", 1)
    val bitset = pairKeys(Dedup.bitsetPairs(idx, Dedup.vocabulary(idx), 0.7))
    val postings = pairKeys(Dedup.postingRerank(allPairs(idx), idx)
      .filter(col("jaccard") >= 0.7))
    assert(bitset == postings && bitset.nonEmpty)
    assert(bitset == bruteJaccard(docs, 1, 0.7))
  }

  test("bitset Jaccard equals posting-list on a fixture sample (multi-word masks)") {
    val docs100 = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
    val idx = Dedup.tokenIndex(docs100, "doc_id", "text", 3)
    val vocab = Dedup.vocabulary(idx)
    assert(vocab.size > 64L,
      s"3-gram vocabulary ${vocab.size} must span several mask words")
    val bitset = pairKeys(Dedup.bitsetPairs(idx, vocab, 0.5))
    val postings = pairKeys(Dedup.postingRerank(allPairs(idx), idx)
      .filter(col("jaccard") >= 0.5))
    assert(bitset == postings)
    assert(bitset == bruteJaccard(docs100, 3, 0.5))
  }

  test("every exact-Jaccard leg equals a brute-force set Jaccard below " +
    "4096 shingles (fixture documents)") {
    val en = graft.Tables.documents(spark, sfDir)
      .filter(col("lang") === "en" && col("doc_id") < 200)
    val nVocab = assertLegsMatchBruteForce(en, 1, Seq(0.5, 0.9))
    assert(nVocab <= 4096L, s"fixture vocabulary $nVocab")
    assertLegsMatchBruteForce(en, 3, Seq(0.5))
    // docs shorter than n: an empty vocabulary still plans, no pairs
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", 10, 0.5).isEmpty)
  }

  test("sorted-neighborhood: planted dups found; subset of the full join") {
    // planted corpus: distinct random docs + reordered-dup pairs. The dup
    // pairs have identical token SETS => identical SimHash => adjacent in
    // the (simhash, id) sort (no other doc shares their hash here), so
    // any window >= 1 finds them.
    val rnd = new scala.util.Random(83)
    val vocab = (0 until 400).map(i => s"w$i")
    def doc() = (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size)))
    val base = (0 until 40).map(i => (i.toLong, doc()))
    val dups = base.take(3).map { case (id, toks) =>
      (id + 1000L, rnd.shuffle(toks)) } // reorderings of docs 0, 1, 2
    val docs = (base ++ dups)
      .map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val sn = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text", 5, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(Set((0L, 1000L), (1L, 1001L), (2L, 1002L)).subsetOf(sn),
      s"got $sn")
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 1, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sn.subsetOf(full)) // never invents pairs; bounded-recall subset

    // multi-pass recall: superset of single-pass, still subset of full
    val multi = Dedup
      .sortedNeighborhoodPairsMulti(docs, "doc_id", "text", 5, 0.9, passes = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sn.subsetOf(multi) && multi.subsetOf(full))
  }

  test("incremental dedup: fresh batch anti-joined on corpus signatures") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "dog lazy the over jumps fox brown quick the"), // reorder of 0
      (11L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (12L, "a genuinely new document about streaming joins")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalSurvivors(fresh, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(12L),
      s"reordered and exact dups of corpus docs must be dropped: $got")
  }

  test("prefix-filtered jaccard join is bit-identical to the plain join") {
    val sample = graft.Tables.documents(spark, sfDir)
      .filter(col("lang") === "en").limit(80)
    def key(r: (Long, Long, Long, Long, Double)) = (r._1, r._2, r._3, r._4)
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val plain = Dedup.jaccardPairs(sample, "doc_id", "text", 1, t)
        .as[(Long, Long, Long, Long, Double)].collect().map(key).toSet
      val pref = Dedup.jaccardPairsPrefix(sample, "doc_id", "text", 1, t)
        .as[(Long, Long, Long, Long, Double)].collect().map(key).toSet
      assert(plain.nonEmpty, s"t=$t: differential base must have pairs")
      assert(pref == plain,
        s"t=$t diff: ${pref.diff(plain)} / ${plain.diff(pref)}")
    }
  }

  test("prefix filter keeps hot tokens out of candidate generation") {
    // 30 docs all sharing hot tokens h1..h4; only docs 0/1 are real
    // near-dups through rare tokens. Plain posting-list join touches
    // every hot posting list; the prefix of each 5-token doc at t=0.8 is
    // 5 - 4 + 1 = 2 tokens = its two RAREST — the hot tokens (df=30)
    // sort last and never enter the candidate join.
    val hot = "h1 h2 h3 h4"
    val docs = ((0 until 28).map(i => (100L + i, s"$hot u$i")) ++
      Seq((0L, s"$hot r0"), (1L, s"$hot r0"))).toDF("doc_id", "text")
    val got = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 1, 0.8)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 1L)))
    assert(got.head._5 == 1.0)
  }

  test("containmentPairs finds excerpts that Jaccard structurally misses") {
    val df = Seq(
      (1L, "x y z"),                       // excerpt of 2
      (2L, "x y z a b c d e f g"),         // container
      (3L, "p q r")                        // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairsAcross(df, df, "doc_id", "text", 1, 1.0)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L, 3L, 1.0)), got.toString)
    // the same pair is invisible to a Jaccard join: J = 3/10
    val jac = Dedup.jaccardPairs(df, "doc_id", "text", 1, 0.9)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(jac.isEmpty)
  }

  test("containmentPairsAcross == self-join pairs restricted to the sides") {
    val df = Seq(
      (1L, "x y z"),
      (2L, "x y z a b c d e f g"),
      (3L, "x y z q r s t u v w"),
      (4L, "x y")
    ).toDF("doc_id", "text")
    val probes = df.filter(col("doc_id") <= 2)
    val corpus = df.filter(col("doc_id") > 2)
    val across = Dedup.containmentPairsAcross(probes, corpus,
        "doc_id", "text", 1, 1.0)
      .select("contained_id", "container_id").as[(Long, Long)]
      .collect().toSet
    val self = Dedup.containmentPairsAcross(df, df, "doc_id", "text", 1, 1.0)
      .select("contained_id", "container_id").as[(Long, Long)]
      .collect().toSet
      .filter(p => p._1 <= 2 && p._2 > 2)
    assert(across == self, s"across=$across self=$self")
    assert(across.contains((1L, 3L)), "x y z sits inside doc 3")
  }

  test("DedupProfile.derive: measured background reproduces the " +
    "hand-tuned geometry") {
    val stats = Dedup.sampleJaccardStats(
      graft.Tables.documents(spark, sfDir).filter(col("lang") === "en"),
      "doc_id", "text", samplePpm = 150000L)
    // typical (median) pair similarity is the documented high fixture
    // background (40-word vocab); the p95 tail holds the planted dups
    assert(stats.p50J > 0.5 && stats.p50J < 0.9, stats.toString)
    assert(stats.p95J >= stats.p50J && stats.maxJ >= stats.p95J)
    assert(stats.nPairs == stats.nDocs * (stats.nDocs - 1) / 2)
    // at k=32 the achievable J=0.95 recall against this background is
    // the S-curve's ~0.69 (VERDICT r3) — deriving at that target must
    // recover exactly the constants previous rounds hand-tuned
    val p = DedupProfile.derive(k = 32, threshold = 0.95,
      backgroundJ = stats.p50J, minRecall = 0.65, maxBackground = 0.05)
    assert(p.bands == 2 && p.rowsPerBand == 16, p.toString)
    // an easy corpus (low background) derives a shallow, cheap geometry
    val easy = DedupProfile.derive(k = 32, threshold = 0.9,
      backgroundJ = 0.2)
    assert(DedupProfile.collisionProb(0.9, easy.bands,
      easy.rowsPerBand) >= 0.9)
    assert(DedupProfile.collisionProb(0.2, easy.bands,
      easy.rowsPerBand) <= 0.05)
    // inseparable targets fail loudly instead of silently under-recalling
    intercept[IllegalArgumentException] {
      DedupProfile.derive(k = 4, threshold = 0.95, backgroundJ = 0.9)
    }
  }

  test("DedupProfile: planted-dup recall 100% at defaults") {
    // identical token sets share every minhash, hence every band key —
    // the planted-dup pair type must survive banding at ANY profile
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        DedupProfile.default)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)) &&
      pairs.contains((1L, 2L)),
      s"identical-token-set dups must be found at defaults: $pairs")
  }

  test("DedupProfile: candidate set grows monotonically in bands") {
    // band b's key construction is independent of the band count, so
    // candidates(bands=1) ⊆ candidates(bands=2) at fixed rowsPerBand
    val idx = Dedup.tokenIndex(docs, "doc_id", "text", 1)
    val c1 = Dedup.lshCandidatesFromIndex(idx,
        DedupProfile(k = 32, bands = 1, rowsPerBand = 16))
      .as[(Long, Long)].collect().toSet
    val c2 = Dedup.lshCandidatesFromIndex(idx,
        DedupProfile(k = 32, bands = 2, rowsPerBand = 16))
      .as[(Long, Long)].collect().toSet
    assert(c1.subsetOf(c2), s"bands=1 candidates $c1 not within bands=2 $c2")
    assert(c2.contains((0L, 1L)), "planted dup must be a candidate")
  }

  test("DedupProfile: invalid geometry fails loudly") {
    intercept[IllegalArgumentException] {
      DedupProfile(k = 16, bands = 4, rowsPerBand = 8) // 32 > k
    }
    intercept[IllegalArgumentException] { DedupProfile(threshold = 0.0) }
  }

  test("minhashLshPairs: bitset and posting-list re-ranks agree") {
    val p = DedupProfile(k = 32, bands = 2, rowsPerBand = 16,
      threshold = 0.5)
    val idx = Dedup.tokenIndex(docs, "doc_id", "text", 1)
    val cand = Dedup.lshCandidatesFromIndex(idx, p)
    def atT(df: DataFrame) = df.filter(col("jaccard") >= p.threshold)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val bitset = atT(Dedup.popcountRerank(cand,
      Dedup.tokenMasks(idx, Dedup.vocabulary(idx))))
    val postings = atT(Dedup.postingRerank(cand, idx))
    assert(bitset == postings && bitset.nonEmpty,
      s"bitset $bitset != postings $postings")
    val entry = Dedup.minhashLshPairs(docs, "doc_id", "text", p)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(entry == bitset)
  }

  test("substringDedup: cross-doc duplicated runs are removed from " +
    "non-keepers only; full dups empty out; short/unique docs untouched") {
    val docs = Seq(
      // 10-token run s1..s10 shared by docs 1, 2 and 3 — doc 1 keeps
      (1L, "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u3 u4"),
      (2L, "v1 v2 v3 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 v4"),
      // full duplicate of doc 1 — every window is claimed by doc 1
      (3L, "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u3 u4"),
      // shorter than minTokens: no windows, never touched
      (4L, "a b c"),
      // unique content: untouched
      (5L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", minTokens = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // keeper doc 1 retains the full text (one copy survives — the
    // Lee et al. point: dedup the corpus, don't lose the content)
    assert(got(1L) == ((14L, 14L,
      "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u3 u4")), got(1L).toString)
    // doc 2 loses exactly the 10 covered tokens (the 3 overlapping
    // flagged windows union to the whole run), keeps its unique frame
    assert(got(2L) == ((14L, 4L, "v1 v2 v3 v4")), got(2L).toString)
    // the full duplicate empties out entirely
    assert(got(3L) == ((14L, 0L, "")), got(3L).toString)
    assert(got(4L) == ((3L, 3L, "a b c")), got(4L).toString)
    assert(got(5L) == ((10L, 10L,
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")), got(5L).toString)
  }

  test("substringDedup: hashGrams (128-bit stage-2 key) is " +
    "differentially identical to the string-keyed path on the fixture") {
    val docs = graft.Tables.documents(spark, sfDir)
    def run(hashed: Boolean) =
      Dedup.substringDedup(docs, "doc_id", "text", minTokens = 8,
          hashGrams = hashed)
        .orderBy("doc_id")
        .as[(Long, Long, Long, String)].collect().toSeq
    assert(run(true) == run(false),
      "hashed gram key must reproduce the string-keyed removal exactly")
  }

  test("substringDedup: a WITHIN-document repeat alone does not flag " +
    "(cross-document semantics), and the plan has no cartesian") {
    val docs = Seq(
      (1L, "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8"),
      (2L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")
    ).toDF("doc_id", "text")
    val df = Dedup.substringDedup(docs, "doc_id", "text", minTokens = 8)
    val got = df.orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0)._3 == got(0)._2 && got(1)._3 == got(1)._2,
      s"no cross-doc dup => nothing removed: ${got.toSeq}")
    graft.ops.PlanChecks.assertNoCartesian(df)
  }

  test("bestInCluster: max quality wins, ties break to the smallest " +
    "id, singletons survive, partitioning never changes the answer") {
    val assign = Seq(
      (10L, 1L, 50L), (11L, 1L, 80L), (12L, 1L, 80L), // tie 11 vs 12
      (20L, 2L, 5L),                                   // singleton
      (30L, 3L, 9L), (31L, 3L, 7L)).toDF("id", "cluster", "q")
    val got = Dedup.bestInCluster(assign, "id", "cluster", "q")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 11L, 80L), (2L, 20L, 5L), (3L, 30L, 9L)))
    val re = Dedup.bestInCluster(assign.repartition(5), "id", "cluster", "q")
      .as[(Long, Long, Long)].collect().toSet
    assert(re == got)
  }

  test("softDedupSample: uniques always survive, duplicate groups thin " +
    "to the exact hash-threshold set, partitioning never matters") {
    val docs = ((0L until 40L).map(i => (i, "boiler")) ++
      Seq((100L, "unique a"), (101L, "unique b"))).toDF("id", "t")
    val got = Dedup.softDedupSample(docs, "id", "t")
      .select("id", "dup_count").as[(Long, Long)].collect().toSet
    // uniques: dup_count 1 -> threshold 1000 -> always kept
    assert(got((100L, 1L)) && got((101L, 1L)))
    // the boiler group (count 40, threshold 25 permil) keeps exactly
    // the ids whose h31 clears it — replay the rule directly
    val h = (i: Long) => {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2147483647L
    }
    val expect = (0L until 40L).filter(i => h(i) % 1000L < 1000L / 40L)
      .map(i => (i, 40L)).toSet ++ Set((100L, 1L), (101L, 1L))
    assert(got == expect, s"got $got expect $expect")
    val re = Dedup.softDedupSample(docs.repartition(7), "id", "t")
      .select("id", "dup_count").as[(Long, Long)].collect().toSet
    assert(re == got)
  }

  test("C4 span dedup: a duplicated three-sentence span keeps its " +
    "first (doc, position) occurrence and drops every sentence the " +
    "other occurrences cover; short docs pass through whole") {
    val docs = Seq(
      (1L, "a1. b1. c1. d1."),            // keeper of span (b1,c1,d1)
      (2L, "x1. b1. c1. d1."),            // duplicate occurrence -> drops 3
      (3L, "p. q. r. p. q. r. p. q. r."), // within-doc repetition
      (4L, "u. v."),                       // < 3 sentences: no spans
      (5L, "solo sentence here.")
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 also contains span (a1,b1,c1) — unique — and is the keeper
    // of (b1,c1,d1): nothing drops
    assert(got(1L) == ((4L, 0L, "a1. b1. c1. d1.")))
    // doc 2's (b1,c1,d1) at idx 1 loses to doc 1's idx 1 occurrence
    assert(got(2L) == ((4L, 3L, "x1.")))
    // doc 3: spans (p,q,r)@{0,3,6}, (q,r,p)@{1,4}, (r,p,q)@{2,5};
    // non-keeper drops cover positions 3..8 -> first period survives
    assert(got(3L) == ((9L, 6L, "p. q. r.")))
    assert(got(4L) == ((2L, 0L, "u. v.")))
    assert(got(5L) == ((1L, 0L, "solo sentence here.")))
    // partition independence: same verdicts at a hostile partitioning
    val re = Dedup.spanDedup(docs.repartition(7), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(re == got)
    intercept[IllegalArgumentException] {
      Dedup.spanDedup(docs, "doc_id", "text", spanSents = 1)
    }
  }

  test("MinHash band store: signatures written partitioned by band-key " +
    "bucket prune to the probe buckets at serve — measured at file " +
    "listing — and store candidates equal the in-memory band join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // mostly-unique token sets -> diverse band keys across buckets
    val docs = (0L until 120L).map(i => (i,
      (0 to 6).map(j => s"tok${(i * 7 + j * 13) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val banded = docs.select(col("doc_id"),
      explode(Dedup.bandKeys(Dedup.minhashes(col("text"), 32),
        bands = 2, rowsPerBand = 16)).as("band"))
    val store = banded.filter(col("doc_id") % 40 =!= 0)
      .withColumn("bucket", col("band") % 16L)
    val dir = specTempDir("band-store")
      .resolve("bands").toString
    store.write.partitionBy("bucket").parquet(dir)
    // explicit schema keeps bucket LongType (partition-dir inference
    // would int-ify it) and the writer's column order
    val stored = spark.read.schema(store.schema).parquet(dir)
    val nParts = spark.read.parquet(dir)
      .select("bucket").distinct().count()
    val probes = banded.filter(col("doc_id") % 40 === 0)
    val probeBuckets = probes.select((col("band") % 16L).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val served = stored.filter(col("bucket").isin(probeBuckets: _*))
      .join(probes.select(col("band"), col("doc_id").as("probe_id")),
        Seq("band"))
      .select(col("probe_id"), col("doc_id").as("cand_id"))
      .distinct()
    val got = served.as[(Long, Long)].collect().toSet
    // differential: identical to the in-memory band join, no pruning
    val mem = banded.filter(col("doc_id") % 40 =!= 0)
      .select(col("band"), col("doc_id").as("cand_id"))
      .join(probes.select(col("band"), col("doc_id").as("probe_id")),
        Seq("band"))
      .select("probe_id", "cand_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(got == mem, s"store serve must equal in-memory join: $got / $mem")
    // the literal IN predicate IS partition pruning: the store scan
    // lists only the probe buckets' directories
    val plan = served.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectLeaves().collectFirst {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(dir))
        => s
    }.getOrElse(fail(s"no FileSourceScanExec over $dir in plan"))
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead <= probeBuckets.size.toLong,
      s"serve must list only the ${probeBuckets.size} probe buckets " +
        s"of $nParts, read $partsRead")
    assert(nParts > probeBuckets.size.toLong,
      s"sanity: the store must have more buckets ($nParts) than the " +
        s"probe set touches (${probeBuckets.size})")
    spark.catalog.clearCache()
  }

  test("MinHash band store, LARGE probe batch: the probe side stays a " +
    "FRAME (no collected bucket literals) — the broadcast join's " +
    "dynamic partition pruning cuts the store scan to the probe " +
    "buckets, metric-asserted") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = (0L until 120L).map(i => (i,
      (0 to 6).map(j => s"tok${(i * 7 + j * 13) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val banded = docs.select(col("doc_id"),
      explode(Dedup.bandKeys(Dedup.minhashes(col("text"), 32),
        bands = 2, rowsPerBand = 16)).as("band"))
      .withColumn("bucket", col("band") % 16L)
    val root = specTempDir("band-store-dpp")
    val dir = root.resolve("bands").toString
    banded.filter(col("doc_id") % 40 =!= 0)
      .repartition(col("bucket")).write.partitionBy("bucket")
      .parquet(dir)
    val storeSchema = banded.schema
    val stored = spark.read.schema(storeSchema).parquet(dir)
    val nParts = spark.read.parquet(dir)
      .select("bucket").distinct().count()
    // probe side as a FILE-BACKED frame with a selective filter,
    // keyed by (bucket, band) — the path a LARGE probe batch takes
    // when collecting its bucket set to an isin literal stops being
    // bounded driver state. (File-backed matters: a local relation
    // constant-folds its filter away and DPP's selective-predicate
    // requirement then declines — exactly why the REAL probe side, a
    // predicate over the corpus parquet, is the shape that prunes.)
    val pdir = root.resolve("probes").toString
    banded.write.parquet(pdir)
    val probes = spark.read.schema(storeSchema).parquet(pdir)
      .filter(col("doc_id") % 40 === 0)
      .select(col("bucket"), col("band"), col("doc_id").as("probe_id"))
    val served = stored
      .join(broadcast(probes), Seq("bucket", "band"))
      .select(col("probe_id"), col("doc_id").as("cand_id"))
      .distinct()
    val got = served.as[(Long, Long)].collect().toSet
    // differential: equals the in-memory band join
    val mem = banded.filter(col("doc_id") % 40 =!= 0)
      .select(col("band"), col("doc_id").as("cand_id"))
      .join(banded.filter(col("doc_id") % 40 === 0)
        .select(col("band"), col("doc_id").as("probe_id")), Seq("band"))
      .select("probe_id", "cand_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(got == mem, s"DPP serve must equal in-memory join: $got / $mem")
    // DPP must FIRE: the store scan carries a dynamicpruning partition
    // filter and lists only the probe buckets' directories
    val plan = served.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectLeaves().collectFirst {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(dir))
        => s
    }.getOrElse(fail(s"no FileSourceScanExec over $dir in plan"))
    assert(scan.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")),
      s"store scan must carry a dynamicpruning partition filter:\n" +
        scan.partitionFilters.mkString("\n"))
    val probeBucketCount = probes.select("bucket").distinct().count()
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead <= probeBucketCount,
      s"DPP must prune the scan to the $probeBucketCount probe " +
        s"buckets of $nParts, read $partsRead")
    assert(nParts > probeBucketCount,
      s"sanity: store buckets ($nParts) must exceed probe buckets " +
        s"($probeBucketCount)")
    spark.catalog.clearCache()
  }

  test("tokenMasks bit assignment is identical across the small-vocab " +
    "window and the sorted-order contract (reorderings pack equal)") {
    // <= 4096 distinct shingles: the numbering is a one-task window
    // over the vocabulary (constant work at any corpus scale — the
    // vocabulary is what's sorted, not the corpus)
    val idx = Dedup.tokenIndex(docs, "doc_id", "text", 1)
    val masks = Dedup.tokenMasks(idx, Dedup.vocabulary(idx))
    val m = masks.select(col("id"), col("mask"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(m(0L) == m(2L) && m(0L) != m(4L))
  }

  test("above 4096 shingles every leg equals brute-force Jaccard and no " +
    "masks are built") {
    // 5000-token vocabulary: 100 docs of 50 disjoint tokens each put
    // every vocabulary word in play exactly once, so the only
    // qualifying pair is the planted one
    val wide = ((0 until 100).map { i =>
      (i.toLong, (0 until 50).map(j => s"v${i * 50 + j}").mkString(" "))
    } ++ Seq((1000L, "v1 v2 v3"), (1001L, "v3 v2 v1"))) // planted dup pair
      .toDF("doc_id", "text")
    val nVocab = assertLegsMatchBruteForce(wide, 1, Seq(0.5, 0.9))
    assert(nVocab > 4096L, s"fixture must exceed the bitset cut ($nVocab)")
    assert(pairKeys(Dedup.jaccardPairs(wide, "doc_id", "text", 1, 0.5)) ==
      Set((1000L, 1001L, 3L, 3L)))
    // the entry took the prefix leg: its plan verifies with
    // array_intersect and carries no popcount over masks
    val entryPlan = graft.ops.PlanChecks.executedPlan(
      Dedup.jaccardPairs(wide, "doc_id", "text", 1, 0.5))
    assert(entryPlan.contains("array_intersect") &&
      !entryPlan.contains("long_array_popcnt_and"), entryPlan)
    // the re-rank took postings: no popcount, no mask aggregate
    val idx = Dedup.tokenIndex(wide, "doc_id", "text", 1).cache()
    val rerankPlan = graft.ops.PlanChecks.executedPlan(
      Dedup.candidateJaccard(allPairs(idx), idx))
    assert(!rerankPlan.contains("long_array_popcnt_and") &&
      !rerankPlan.contains("bit_or"), rerankPlan)
    idx.unpersist()
  }

  test("bitset pair join beyond the broadcast bound falls back to an " +
    "unhinted join with identical results") {
    val key = "spark.graft.bitsetBroadcast.maxBytes"
    val hinted = Dedup.jaccardPairs(docs, "doc_id", "text", 1, 0.7)
      .select("id_a", "id_b", "inter", "un")
      .as[(Long, Long, Long, Long)].collect().toSet
    spark.conf.set(key, "1")
    try {
      // the planner may still pick its own broadcast for a tiny side —
      // the gate's contract is only that the FORCED hint is gone and
      // results are unchanged (memory safety is the planner's call now)
      val unhinted = Dedup.jaccardPairs(docs, "doc_id", "text", 1, 0.7)
        .select("id_a", "id_b", "inter", "un")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(unhinted == hinted && hinted.nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("job floor: the entry's bitset leg on the fixture docs runs in " +
    "11 jobs (13 before the vocabulary was measured in its own one job)") {
    val (got, jobs) = CountJobs(
      Dedup.jaccardPairs(docs, "doc_id", "text", 1, 0.7).collect())
    assert(got.nonEmpty)
    assert(jobs == 11, s"jaccardPairs ran $jobs jobs")
  }

  test("job floor: sampleJaccardStats runs in one job — one " +
    "collect of the sample's shingle sets, no vocabulary count and no " +
    "pair join") {
    val en = graft.Tables.documents(spark, sfDir).filter(col("lang") === "en")
    val (stats, jobs) = CountJobs(
      Dedup.sampleJaccardStats(en, "doc_id", "text", samplePpm = 150000L))
    assert(stats.nDocs >= 2)
    assert(jobs == 1, s"sampleJaccardStats ran $jobs jobs")
  }

  test("Dedup has one exact-Jaccard surface: its public defs named " +
    "*jaccard* are jaccardPairs, jaccardPairsPrefix, candidateJaccard " +
    "and sampleJaccardStats") {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(sys.props("user.dir"), "src", "main", "scala",
      "graft", "ext", "Dedup.scala")
    val text = new String(Files.readAllBytes(src), "UTF-8")
    val publicJaccard = """(?m)^\s*(.*?)\bdef\s+(\w+)""".r
      .findAllMatchIn(text)
      .filterNot(m => m.group(1).contains("private") ||
        m.group(1).contains("protected"))
      .map(_.group(2))
      .filter(_.toLowerCase.contains("jaccard"))
      .toSet
    val want = Set("jaccardPairs", "jaccardPairsPrefix", "candidateJaccard",
      "sampleJaccardStats")
    assert(publicJaccard == want,
      s"exact-Jaccard siblings in $src: extra ${publicJaccard -- want}, " +
        s"missing ${want -- publicJaccard}")
  }
}
