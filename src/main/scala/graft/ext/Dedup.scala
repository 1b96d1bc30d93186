package graft.ext

import graft.ops.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness:
  *
  *  1. exact (content hash)                      — [[keepFirstExact]]
  *  2. token-set canonical signature             — [[tokenSetSignature]]
  *  3. MinHash + LSH banding                     — [[minhashes]] / [[bandKeys]]
  *  4. SimHash (bitwise majority)                — [[simhash16]]
  *  5. n-gram Jaccard similarity join            — [[jaccardPairs]]
  *
  * Scale design: everything is shuffle-on-key (groupBy doc signature /
  * explode token index), never a cross join. MinHash/SimHash signatures
  * are computed per-row inside whole-stage codegen via higher-order
  * functions over the token array — one pass over the corpus, O(k·|doc|).
  *
  * Cross-engine determinism: token hash = md5-hex-derived 31-bit int
  * ([[TextAnalysis.tokenHash31]]); permutations are fixed (a,b) constants
  * exposed to the SQL oracle via [[minhashPerm]]; all arithmetic stays in
  * exact 64-bit integers (no overflow: a,b < 2^31, x < 2^31 => a*x+b <
  * 2^62).
  */
/** Corpus-profile configuration for the MinHash/LSH dedup family. The
  * defaults are tuned for the test fixture (~40-word vocabulary, 0.78
  * background Jaccard => deep 16-row bands to keep the candidate rate
  * ~2% while planted identical-token-set dups keep 100% recall); a real
  * corpus profiles its background similarity and sets bands/rows
  * accordingly (more bands => higher recall AND more candidates —
  * P(candidate) = 1-(1-J^rows)^bands). `shingleN` > 1 switches the
  * signature base from distinct tokens to ordered n-gram shingles.
  */
final case class DedupProfile(
    k: Int = 32,
    bands: Int = 2,
    rowsPerBand: Int = 16,
    shingleN: Int = 1,
    threshold: Double = 0.95) {
  require(k >= 1 && bands >= 1 && rowsPerBand >= 1 && shingleN >= 1,
    s"DedupProfile: k/bands/rowsPerBand/shingleN must be positive: $this")
  require(bands * rowsPerBand <= k,
    s"DedupProfile: bands*rowsPerBand = ${bands * rowsPerBand} exceeds " +
      s"the k=$k minhash signature: $this")
  require(threshold > 0.0 && threshold <= 1.0,
    s"DedupProfile: threshold must be in (0, 1]: $this")
}

object DedupProfile {
  /** Fixture-tuned defaults (the constants previous rounds hard-coded). */
  val default: DedupProfile = DedupProfile()

  /** x^n as a left fold of multiplications from 1.0 — NOT `math.pow`:
    * the fold is a fixed IEEE operation sequence a SQL oracle replays
    * bit-for-bit (`list_reduce` over a prepended 1.0 seed), whereas
    * `pow` carries no cross-engine rounding guarantee. Exponents here
    * are <= k (~32), so precision is identical in practice and
    * REPRODUCIBILITY is what the fold buys. */
  private def powIter(x: Double, n: Int): Double =
    (1 to n).foldLeft(1.0)((a, _) => a * x)

  /** LSH candidate probability for one document pair at Jaccard `j`
    * under (bands, rowsPerBand): 1 - (1 - j^r)^b — the S-curve. */
  def collisionProb(j: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - powIter(1.0 - powIter(j, rowsPerBand), bands)

  /** Derive band geometry from a MEASURED corpus instead of hand
    * tuning: among all (bands, rows) with bands·rows <= k, keep the
    * geometries whose S-curve admits near-dups at `threshold` with
    * probability >= `minRecall` while admitting background-similarity
    * pairs (`backgroundJ`, e.g. from [[Dedup.sampleJaccardStats]]) with
    * probability <= `maxBackground`; of those, pick the one with the
    * fewest expected background candidates (smallest background
    * probability, ties to fewer bands = fewer shuffled rows). This is
    * the production completion of the profile surface: SURVEY §8.5
    * called the fixed 2×16 constants fixture-tuned — on the fixture's
    * measured ~0.78 background this derives exactly that geometry. */
  def derive(k: Int, threshold: Double, backgroundJ: Double,
      minRecall: Double = 0.9, maxBackground: Double = 0.05,
      shingleN: Int = 1): DedupProfile = {
    require(backgroundJ >= 0.0 && backgroundJ < threshold,
      s"derive: backgroundJ ($backgroundJ) must be below the dedup " +
        s"threshold ($threshold) — equal means LSH cannot separate them")
    val candidates = for {
      r <- 1 to k
      b <- 1 to k / r
      if collisionProb(threshold, b, r) >= minRecall
      if collisionProb(backgroundJ, b, r) <= maxBackground
    } yield (b, r)
    require(candidates.nonEmpty,
      s"derive: no (bands, rows) geometry within k=$k separates " +
        s"threshold=$threshold from background=$backgroundJ at " +
        s"recall>=$minRecall / background<=$maxBackground; raise k " +
        "or relax the targets")
    // total-order key (prob, b, r): no ties possible, so the argmin is
    // partition- and engine-independent (a SQL replay sorts the same)
    val (b, r) = candidates.minBy { case (b, r) =>
      (collisionProb(backgroundJ, b, r), b, r) }
    DedupProfile(k = k, bands = b, rowsPerBand = r,
      shingleN = shingleN, threshold = threshold)
  }
}

object Dedup {

  val P: Long = 1000000007L

  // -------- 1. exact --------

  /** Keep-first exact dedup: survivor = min(id) per identical content. */
  def keepFirstExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  // -------- 2. token-set signature --------

  /** Canonical signature of the distinct-token SET (order/multiplicity
    * insensitive) — catches the fixture's reordered duplicates. */
  def tokenSetSignature(text: Column): Column =
    md5(array_join(array_sort(array_distinct(TextAnalysis.tokens(text))), " "))

  /** Incremental dedup — the production shape for a crawl pipeline:
    * dedup a NEW batch against the accumulated HISTORICAL corpus
    * without re-clustering anything. Returns the fresh rows whose
    * canonical token-set signature ([[tokenSetSignature]]) does not
    * already exist in `corpus` — one hash-agg over the corpus (at scale
    * a pre-materialized signature store) plus a left-anti join keyed on
    * the signature. No pair enumeration, no O(n²) anywhere. */
  def incrementalSurvivors(fresh: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    val seen = corpus
      .select(tokenSetSignature(col(textCol)).as("__sig")).distinct()
    fresh.withColumn("__sig", tokenSetSignature(col(textCol)))
      .join(seen, Seq("__sig"), "left_anti")
      .drop("__sig")
  }

  // -------- 3. MinHash + LSH --------

  /** Fixed permutation constants (i = 0..k-1), identical in Spark and the
    * SQL oracle: a = (2i+1) * 1103515245 mod 2^31-1 (odd), b = i *
    * 1000000007 mod 2^31-1. */
  def minhashPerm(i: Int): (Long, Long) = {
    val m = 2147483647L
    (((2L * i + 1) * 1103515245L) % m, (i * 1000000007L) % m)
  }

  /** k min-hashes over the distinct-token set: element i is
    * min over tokens of (a_i * h31(tok) + b_i) mod 2^31-1. */
  def minhashes(text: Column, k: Int = 16): Column = {
    val toks = array_distinct(TextAnalysis.tokens(text))
    val hashes = (0 until k).map { i =>
      val (a, b) = minhashPerm(i)
      array_min(transform(toks,
        t => (lit(a) * TextAnalysis.tokenHash31(t) + lit(b)) % 2147483647L))
    }
    array(hashes: _*)
  }

  /** LSH band keys: rows-per-band minhashes folded into one long per band.
    * Docs sharing ANY band key are near-dup candidates. */
  def bandKeys(mh: Column, bands: Int = 4, rowsPerBand: Int = 4): Column = {
    val keys = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r =>
        element_at(mh, b * rowsPerBand + r + 1))
      slice.foldLeft(lit(b.toLong)) { (acc, h) => (acc * 31L + h) % P }
    }
    array(keys: _*)
  }

  /** LSH candidate pairs (id_a < id_b, distinct) under a corpus profile:
    * banded equi-join on the minhash band keys — candidates bounded by
    * band collisions, never a cross join. */
  def lshCandidatesFromIndex(index: DataFrame,
      profile: DedupProfile = DedupProfile.default): DataFrame = {
    val sig = minhashSignatures(index, profile.k)
    // banded feeds BOTH sides of the band self-join below — without the
    // materialization the whole signature pipeline (a k-min aggregate
    // over the corpus-scale token index) plans and runs twice. The
    // frame is tiny (docs × bands rows of two longs), the cheapest
    // point in the pipeline to cut. Cache lifetime is caller-owned
    // (Bench/Verify clearCache), the module convention.
    val banded = Materialize(sig
      .withColumn("band",
        explode(bandKeyCols(profile.bands, profile.rowsPerBand)))
      .select("id", "band"),
      eager = true)
    banded.select(col("band"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("id").as("id_b")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** End-to-end MinHash/LSH near-dup join under a [[DedupProfile]]:
    * shingle index -> signatures -> banded candidates -> exact Jaccard
    * re-rank ([[candidateJaccard]]) -> threshold filter. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      profile: DedupProfile = DedupProfile.default): DataFrame = {
    // the token index (corpus tokenize + shingle explode + one md5 per
    // (doc, shingle)) feeds the banded-candidate pass AND the re-rank
    // (vocabulary count, then masks or postings) — materialize it once
    // instead of re-running the shingling per consumer
    val idx = Materialize(tokenIndex(df, idCol, textCol, profile.shingleN),
      eager = true)
    candidateJaccard(lshCandidatesFromIndex(idx, profile), idx)
      .filter(col("jaccard") >= profile.threshold)
  }

  // -------- 4. SimHash --------

  /** k-bit SimHash over the distinct-token set: bit j is set iff the
    * majority of token hashes have bit j set (count(set)*2 >= n).
    * 24 bits by default — enough to push random collisions below the
    * corpus pair count while staying cheap to mirror in SQL. */
  def simhash(text: Column, bits: Int = 24): Column = {
    val toks = array_distinct(TextAnalysis.tokens(text))
    val hashes = transform(toks, t => TextAnalysis.tokenHash31(t))
    val n = size(hashes)
    val sig = (0 until bits).map { j =>
      val ones = size(filter(hashes,
        h => shiftright(h, j) % 2L === 1L))
      when(ones * 2 >= n, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    // empty token set => no majority anywhere => 0 (matches the index
    // form, which emits no row; 0*2 >= 0 would otherwise set EVERY bit)
    when(n === 0, 0L).otherwise(sig)
  }

  // -------- scale-path signature computation (explode + hash agg) --------
  //
  // The per-row array forms above ([[minhashes]], [[simhash]]) are
  // CodegenFallback higher-order functions AND recompute the md5 token
  // hash once per permutation/bit. The index forms below hash each
  // (doc, token) exactly once and turn signature computation into a
  // fully codegen'd hash aggregate — the shape that survives a 100 TB
  // corpus (shuffle keyed on doc id, no interpreted lambdas).

  /** Exploded distinct-shingle index: (id, n_sh, shingle, h) — h =
    * [[TextAnalysis.tokenHash31]], computed once per (doc, shingle). */
  def tokenIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 1): DataFrame =
    // shingling + one md5-derived hash per (doc, shingle) is the
    // compute-heavy leaf of every signature pipeline — spread it by
    // compute rather than inheriting byte-sized upstream splits
    explodeSets(shingleSets(graft.ops.Spread.forCompute(df, col(idCol)),
        idCol, textCol, n))
      .withColumn("h", TextAnalysis.tokenHash31(col("shingle")))

  /** MinHash signatures as one hash-agg over the token index:
    * (id, n_sh, m0..m{k-1}). Identical values to [[minhashes]]. */
  def minhashSignatures(index: DataFrame, k: Int = 16): DataFrame = {
    val aggs = (0 until k).map { i =>
      val (a, b) = minhashPerm(i)
      min((lit(a) * col("h") + lit(b)) % 2147483647L).as(s"m$i")
    }
    index.groupBy("id", "n_sh").agg(aggs.head, aggs.tail: _*)
  }

  /** Band-key columns over a [[minhashSignatures]] frame (same fold as
    * [[bandKeys]]). */
  def bandKeyCols(bands: Int, rowsPerBand: Int): Column = {
    val keys = (0 until bands).map { b =>
      (0 until rowsPerBand).foldLeft(lit(b.toLong)) { (acc, r) =>
        (acc * 31L + col(s"m${b * rowsPerBand + r}")) % P
      }
    }
    array(keys: _*)
  }

  /** SimHash via the token index: per-bit conditional sums in one
    * hash agg. Identical values to [[simhash]]. */
  def simhashFromIndex(index: DataFrame, bits: Int = 24): DataFrame = {
    val oneAggs = (0 until bits).map { j =>
      sum(shiftright(col("h"), j) % 2L).as(s"ones$j")
    } :+ count(lit(1)).as("n_toks")
    val grouped = index.groupBy("id").agg(oneAggs.head, oneAggs.tail: _*)
    val sh = (0 until bits).map { j =>
      when(col(s"ones$j") * 2 >= col("n_toks"), lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    grouped.select(col("id"), sh.as("simhash"))
  }

  // -------- sorted-neighborhood dedup (Hernández–Stolfo) --------

  /** Sorted-neighborhood candidate pairs + exact re-rank: sort the corpus
    * by a locality-preserving key (SimHash, doc id as tiebreak), assign
    * parallel ordinals ([[graft.ops.PrefixSum]] — no single-partition
    * window), and compare only docs within `window` positions of each
    * other. Classic bounded-comparison dedup: candidates are |corpus| ×
    * window instead of all pairs, at the cost of recall for near-dups the
    * sort key separates (the standard multi-pass answer is several sort
    * keys).
    *
    * The ordinal-distance join `0 < rb - ra <= w` IS a point-in-interval
    * join (point rb in [ra+1, ra+w+1)), so it composes directly from
    * [[graft.ops.RangeJoin.pointInInterval]] — one bin-explode on the
    * interval side, single-bucket points, each pair exactly once.
    * NULL-text docs carry no tokens and are excluded from the ordinal
    * space entirely. */
  def sortedNeighborhoodPairs(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 10, threshold: Double = 0.9): DataFrame =
    sortedNeighborhoodPairsMulti(df, idCol, textCol, window, threshold, 1)

  /** Multi-pass sorted-neighborhood: the standard answer to single-key
    * recall loss is several passes under DIFFERENT sort keys, unioning
    * the candidate sets. Pass p sorts by the SimHash rotated p·24/passes
    * bits — rotations reorder which bit disagreements land in the high
    * (sort-dominating) positions, so near-dups separated under one
    * rotation are usually adjacent under another. Candidates are
    * deduplicated BEFORE the exact re-rank (each pair re-ranked once). */
  def sortedNeighborhoodPairsMulti(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 10, threshold: Double = 0.9,
      passes: Int = 2): DataFrame = {
    require(window > 0 && passes >= 1 && passes <= 24)
    val w = window.toLong
    // persist the two stages every pass re-reads: `idx` feeds the SimHash
    // pass AND the exact re-rank, `sh` feeds one PrefixSum per pass —
    // without these the tokenize pipeline re-evaluates passes+1 times.
    // The method is made eager (result localCheckpoint) so both can be
    // unpersisted before returning — no cache entries leak to the caller.
    import org.apache.spark.storage.StorageLevel
    val idx = tokenIndex(df.filter(col(textCol).isNotNull), idCol, textCol, 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh = simhashFromIndex(idx, 24).persist(StorageLevel.MEMORY_AND_DISK)
    val candPasses = (0 until passes).map { p =>
      val rot = p * 24 / passes
      val key = // 24-bit left rotation by `rot`
        if (rot == 0) col("simhash")
        else (shiftleft(col("simhash"), rot) % (1L << 24)) +
          shiftright(col("simhash"), 24 - rot)
      val ord = graft.ops.PrefixSum.withOrdinal(
        sh.select(col("id"), key.as("__key")), "r",
        Seq(col("__key"), col("id")))
      val a = ord.select(col("id").as("ida"), col("r").as("ra"))
        .withColumn("__s", col("ra") + 1L)
        .withColumn("__e", col("ra") + w + 1L)
      val b = ord.select(col("id").as("idb"), col("r").as("rb"))
      graft.ops.RangeJoin
        .pointInInterval(b, "rb", a, "__s", "__e", bucketWidth = w)
        .select(least(col("ida"), col("idb")).as("id_a"),
          greatest(col("ida"), col("idb")).as("id_b"))
    }
    // single pass emits each pair exactly once (pointInInterval contract)
    // — the union/distinct epilogue would only add a needless exchange
    val cand =
      if (passes == 1) candPasses.head
      else candPasses.reduce(_ unionByName _).distinct()
    val result = Materialize(candidateJaccard(cand, idx)
      .filter(col("jaccard") >= threshold),
      eager = true)
    idx.unpersist(false)
    sh.unpersist(false)
    result
  }

  /** Exact cross-document SUBSTRING dedup — the removal operator of the
    * family (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", the ExactSubstr shape): any token run of
    * at least `minTokens` that appears in MORE THAN ONE document is
    * removed from every document except the smallest-id claimant, and
    * the surviving tokens are reassembled in order. This REMOVES the
    * duplicated text (what [[TextAnalysis.dupSpans]] only measures) —
    * boilerplate paragraphs, quoted chunks, licence blocks — while the
    * keeper document retains one full copy for training.
    *
    * Construction (every stage keyed — the Spark-native answer to the
    * paper's suffix array):
    *  1. each document emits ALL its `minTokens`-grams with start
    *     offsets ([[graft.functions.WordShinglesAt]], one codegen'd
    *     pass per doc — no cross-row work, no shuffle);
    *  2. one hash-agg keyed on the gram finds cross-document grams and
    *     their keeper (min doc id) — the shuffle equivalent of the
    *     suffix-array sort, sized by corpus token count, and the ONLY
    *     content-keyed exchange in the plan;
    *  3. non-keeper occurrences explode to covered token positions
    *     (a duplicated run of length R >= minTokens is covered by its
    *     R - minTokens + 1 overlapping flagged windows — the whole run
    *     is removed, exactly the paper's semantics);
    *  4. an (id, pos)-keyed anti join drops covered tokens and a
    *     per-doc hash-agg reassembles the survivors in order.
    *
    * At 100 TB: pass `hashGrams = true` to key stage 2 on a 128-bit
    * gram hash (two independent xxhash64 lanes) instead of the gram
    * string — an L-token gram shrinks from ~8L bytes to 16 on the wire
    * of the plan's one content-keyed shuffle, and 128 bits keeps the
    * collision expectation far below one even at corpus-scale distinct
    * gram counts (~2^64 grams for a 50% birthday bound). The default
    * keeps the string key so a SQL oracle replays identity exactly; a
    * differential spec pins hash ≡ string on the fixture.
    * Returns (idCol, n_tokens, n_kept, clean_text) for EVERY input
    * document (fully-duplicated non-keepers come back empty). */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 8, hashGrams: Boolean = false): DataFrame = {
    val L = minTokens
    val sh0 = df.select(col(idCol).as("id"),
      posexplode(graft.functions.WordShinglesAt(col(textCol), L))
        .as(Seq("start", "h")))
    val sh = if (!hashGrams) sh0
      else sh0.withColumn("h", struct(
        xxhash64(col("h")),
        // second lane: distinct seed via a constant prefix column
        xxhash64(lit(0x9E3779B97F4A7C15L), col("h"))))
    val dup = sh.groupBy("h")
      .agg(min("id").as("keeper"), countDistinct("id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h", "keeper")
    val rm = sh.join(dup, Seq("h"))
      .filter(col("id") =!= col("keeper"))
      .select(col("id"),
        explode(sequence(col("start"), col("start") + lit(L - 1)))
          .as("pos"))
      .distinct()
    val toks = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val kept = toks.join(rm, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // -------- 5. n-gram Jaccard similarity join --------

  /** Distinct n-gram shingles of the ordered token stream (n=1 => the
    * distinct-token set). */
  def shingles(text: Column, n: Int): Column =
    if (n == 1) array_distinct(TextAnalysis.tokens(text))
    // n>1: codegen'd single-pass expression (the built-in
    // transform/slice/array_join composition is CodegenFallback —
    // interpreted per element; see WordShingles scaladoc). Returns []
    // for docs shorter than n.
    else graft.functions.WordShingles(text, n)

  // Exact Jaccard comes in two shapes, all pairs ([[jaccardPairs]]) and
  // a given candidate set ([[candidateJaccard]]), and each has two legs
  // picked by the measured shingle vocabulary ([[Vocabulary.bitset]]).
  // While the vocabulary packs into one 64-word mask per doc,
  // intersections are Σ popcount(a&b) over masks built by a single hash
  // aggregate; above that, PPJoin prefix filtering (all pairs) or the
  // posting-list join (candidates) wins. The measured cross-over is in
  // SCALE.md §8c.

  /** A token index's measured vocabulary: its materialized shingle
    * frequency table `freq` (shingle, __tf) and that table's row count
    * `size`, taken in the one job that stores it. */
  private[ext] final case class Vocabulary(freq: DataFrame, size: Long) {
    /** The one bitset-or-not decision: at most 4096 distinct shingles
      * pack each doc into one 64-word mask built by one aggregate. */
    def bitset: Boolean = size <= 4096L
    /** 64-bit words per mask (at least one: an empty vocabulary plans). */
    def maskWords: Int = math.max(1L, (size + 63) / 64).toInt
  }

  private[ext] def vocabulary(index: DataFrame): Vocabulary = {
    val (freq, size) = Materialize.counted(shingleFreq(index))
    Vocabulary(freq, size)
  }

  /** EXACT all-pairs Jaccard similarity join: (id_a, id_b, inter, un,
    * jaccard) for every pair with J >= threshold, id_a < id_b. The token
    * index is materialized once and its [[vocabulary]] measured: a small
    * one takes the bitmask pair join ([[bitsetPairs]]), a larger one
    * the prefix leg ([[jaccardPairsPrefix]]), which orders tokens by
    * the measured frequencies. */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 1, threshold: Double = 0.9): DataFrame = {
    // the index feeds the measurement AND the mask build — materialize
    // once instead of shingling per consumer
    val idx = Materialize(tokenIndex(df, idCol, textCol, n), eager = true)
    val vocab = vocabulary(idx)
    if (vocab.bitset) {
      val pairs = bitsetPairs(idx, vocab, threshold)
      Materialize.release(vocab.freq)
      pairs
    } else {
      Materialize.release(idx)
      prefixPairs(shingleSets(df, idCol, textCol, n), vocab.freq, threshold)
    }
  }

  /** Exact Jaccard for a candidate-pair set (id_a, id_b) over a token
    * index: (id_a, id_b, inter, un, jaccard). The index's measured
    * [[vocabulary]] picks the popcount re-rank over materialized masks
    * or the posting-list re-rank. `index` is read by both the
    * measurement and the re-rank: pass a materialized or persisted one. */
  def candidateJaccard(cand: DataFrame, index: DataFrame): DataFrame = {
    val vocab = vocabulary(index)
    // masks feed both the id_a and id_b sides of the re-rank join —
    // materialize once so the mask pipeline doesn't plan and run once
    // per side
    val masks = if (vocab.bitset)
      Some(Materialize(tokenMasks(index, vocab), eager = true)) else None
    Materialize.release(vocab.freq)
    masks.fold(postingRerank(cand, index))(popcountRerank(cand, _))
  }

  /** Per-doc bitmasks over a measured [[Vocabulary]] of `index`: (id,
    * n_sh, mask array<long>). Vocabulary indexed by sorted order
    * (deterministic); masks are DENSE (every word slot present, zeros
    * for empty words) so element i of any two masks refers to the same
    * vocabulary slice. */
  private[ext] def tokenMasks(index: DataFrame, vocab: Vocabulary)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // vocabulary ordinal: a row_number() window is ONE task over the
    // vocabulary — not the corpus — which [[Vocabulary.bitset]] bounds,
    // so the work is constant at any corpus scale
    val bits = vocab.freq
      .withColumn("bit", row_number().over(Window.orderBy("shingle")) - 1)
      .select(col("shingle"), col("bit").cast("long").as("bit"))
    // ONE keyed exchange: the word count is driver-known, so the dense
    // mask builds as per-word conditional bit_or aggregates in a single
    // hash aggregate keyed on the doc. Word w of a doc with no tokens
    // in that slice bit_ors only zeros.
    val aggs = (0 until vocab.maskWords).map { w =>
      bit_or(when((col("bit") / 64).cast("int") === w,
        expr("shiftleft(1L, cast(bit % 64 AS int))")).otherwise(0L))
        .as(s"__w$w")
    }
    index.join(broadcast(bits), Seq("shingle"))
      .groupBy("id", "n_sh").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), col("n_sh"),
        array(aggs.indices.map(w => col(s"__w$w")): _*).as("mask"))
  }

  /** All-pairs leg over masks: bitmask block-nested join (an n²
    * candidate space bounded by doc count — use inside blocks/bands at
    * scale). `idx` is the materialized token index, `vocab` its
    * measured [[vocabulary]]; the masks are stored before this returns. */
  private[ext] def bitsetPairs(idx: DataFrame, vocab: Vocabulary,
      threshold: Double): DataFrame = {
    // masks feed BOTH sides of the pair join: materialize once (the
    // vocab + mask aggregate pipeline otherwise plans and runs twice —
    // once streamed, once through the broadcast build), and spread the
    // stream side across the executors BEFORE the checkpoint. The
    // pair compare is the Θ(candidates) hot loop of this operator, and
    // the mask aggregate's post-AQE output is a single tiny partition —
    // without the explicit repartition the whole O(n²/blocks) popcount
    // stream would run in ONE task regardless of cluster size (the
    // work here scales with PAIRS, not with the input bytes AQE sizes
    // partitions by).
    val spark = idx.sparkSession
    val (masks, nDocs) = Materialize.counted(tokenMasks(idx, vocab)
      .repartition(spark.sparkContext.defaultParallelism))
    val a = masks.select(col("id").as("id_a"), col("n_sh").as("na"),
      col("mask").as("mask_a"))
    val b = masks.select(col("id").as("id_b"), col("n_sh").as("nb"),
      col("mask").as("mask_b"))
    val tNum = math.floor(threshold * 10000).toLong
    // size-gate the forced broadcast of the mask table: one row per doc,
    // maskWords longs each — fine for the blocked/small-n corpora this
    // exact all-pairs operator is contracted for, fatal (driver/executor
    // OOM, 8 GB relation cap) if a large-n caller ever reaches it. The
    // count comes from the job that stored the masks and the width is
    // driver-known from the vocabulary; past the bound the hint is
    // dropped and the planner degrades to its own non-equi strategy
    // (cartesian — slow but memory-safe) instead of OOMing.
    val maxBcastBytes = scala.util.Try(spark.conf
      .get("spark.graft.bitsetBroadcast.maxBytes").toLong)
      .getOrElse(256L * 1024L * 1024L)
    val estBytes = nDocs * (vocab.maskWords.toLong * 8L + 48L)
    val bSide = if (estBytes <= maxBcastBytes) broadcast(b) else b
    a.join(bSide,
        col("id_a") < col("id_b") &&
        col("na") * tNum <= col("nb") * 10000L &&
        col("nb") * tNum <= col("na") * 10000L)
      .withColumn("inter",
        graft.functions.LongArrayPopcntAnd(col("mask_a"), col("mask_b")))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "un", "jaccard")
      // the ≥threshold filter is very selective, so the surviving pair
      // list is far smaller than the wide popcount stream above it —
      // hand the OUTPUT partitioning back to AQE (rebalance = advisory-
      // sized, coalescible) so iterative consumers (connected
      // components, label prop, k-core) that checkpoint this frame
      // don't inherit defaultParallelism near-empty blocks and re-scan
      // them every round
      .hint("rebalance")
  }

  /** Candidate re-rank over masks: intersection = Σ popcount(a&b). */
  private[ext] def popcountRerank(cand: DataFrame, masks: DataFrame)
      : DataFrame = {
    val a = masks.select(col("id").as("id_a"), col("n_sh").as("na"),
      col("mask").as("mask_a"))
    val b = masks.select(col("id").as("id_b"), col("n_sh").as("nb"),
      col("mask").as("mask_b"))
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("inter",
        graft.functions.LongArrayPopcntAnd(col("mask_a"), col("mask_b")))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un"))
      .select("id_a", "id_b", "inter", "un", "jaccard")
  }

  /** Candidate re-rank over postings (two codegen'd joins + hash agg):
    * intersection = count of shingles shared by the pair. */
  private[ext] def postingRerank(cand: DataFrame, index: DataFrame)
      : DataFrame = {
    val ia = index.select(col("id").as("id_a"), col("n_sh").as("na"),
      col("shingle"))
    val ib = index.select(col("id").as("id_b"), col("n_sh").as("nb"),
      col("shingle"))
    cand.join(ia, Seq("id_a"))
      .join(ib, Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un"))
      .select("id_a", "id_b", "inter", "un", "jaccard")
  }

  /** EXACT asymmetric containment join: ordered pairs (a, b) where at
    * least `threshold` of a's distinct tokens also occur in b —
    * excerpt/quote detection, the capability a Jaccard join
    * structurally MISSES: its size-compatibility pruning (and the
    * metric itself) discards exactly the size-mismatched pairs where a
    * short document sits inside a long one. An inverted-index join on
    * the shingle with a one-sided size filter (the container must have
    * at least threshold·|a| distinct tokens, since inter <=
    * min(|a|,|b|)). Returns (contained_id, container_id, inter, na,
    * containment).
    *
    * Excerpts are drawn from `contained`,
    * containers drawn from `containers` (the corpus). Splitting the
    * sides is both the honest-domain shape (quote/contamination audits
    * ask "is THIS set quoted in the corpus", not all-vs-all) and the
    * scale lever: the exploded left side is |contained|·tokens, so a
    * bounded probe set turns the quadratic self-join into a linear scan
    * of the corpus index. Self-pairs are excluded by id. */
  def containmentPairsAcross(
      contained: DataFrame, containers: DataFrame,
      idCol: String, textCol: String,
      n: Int = 1, threshold: Double = 0.95): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentPairs: threshold in (0, 1] ($threshold)")
    def index(df: DataFrame) = explodeSets(shingleSets(df, idCol, textCol, n))
    val tNum = math.floor(threshold * 10000).toLong
    index(contained)
      .select(col("id").as("contained_id"), col("n_sh").as("na"),
        col("shingle"))
      .join(index(containers)
          .select(col("id").as("container_id"),
            col("n_sh").as("nb"), col("shingle").as("__shb")),
        col("shingle") === col("__shb") &&
          col("contained_id") =!= col("container_id") &&
          col("na") * tNum <= col("nb") * 10000L)
      .groupBy("contained_id", "container_id", "na")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select("contained_id", "container_id", "inter", "na", "containment")
  }

  /** Sampled pairwise-Jaccard distribution of a corpus — the
    * measurement feeding [[DedupProfile.derive]]. */
  final case class JaccardStats(nDocs: Long, nPairs: Long,
      meanJ: Double, p50J: Double, p95J: Double, maxJ: Double)

  /** Measure background Jaccard on a deterministic hash-sample of the
    * corpus (same hash-threshold selection as the train/val split —
    * reproducible under any partitioning). All-pairs Jaccard runs on
    * the SAMPLE only, and the sample is bounded STRUCTURALLY: the ppm
    * rate gate targets the sample size, and a deterministic
    * hash-ordered top-`maxSampleDocs` cap bounds it absolutely even
    * when the rate floor binds (a profiling step, not a corpus-scale
    * operator: at 100 TB you still sample ~100 docs). The sample's
    * shingle sets are collected once and the ~maxSampleDocs²/2 pair
    * Jaccards computed on the driver. Pairs sharing no token count as
    * J=0. */
  def sampleJaccardStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 1, samplePpm: Long = 20000,
      maxSampleDocs: Long = 2000): JaccardStats = {
    require(samplePpm >= 1 && samplePpm <= 1000000L,
      s"sampleJaccardStats: samplePpm in [1,1000000] ($samplePpm)" +
        " — derive it from the measured corpus count with" +
        " Similarity.derivedSamplePpm so the sample tracks the target" +
        " at any SF")
    require(maxSampleDocs >= 2 && maxSampleDocs <= 5000,
      s"sampleJaccardStats: maxSampleDocs in [2,5000]" +
        s" ($maxSampleDocs) — the probe computes ~maxSampleDocs^2/2" +
        " pair Jaccards on the driver")
    val h = TextAnalysis.tokenHash31(col(idCol).cast("string"))
    // each shingle becomes a dense int, so a doc is a sorted int array
    // and a pair's intersection is one merge
    val dict = scala.collection.mutable.HashMap.empty[String, Int]
    val sets = df
      .filter(h % 1000000L < samplePpm)
      // deterministic hash-ordered cap — the ABSOLUTE bound on the
      // quadratic probe (a rate floor alone lets the sample grow with
      // the corpus once the clamp binds at 1 ppm); total order, so
      // identical under any partitioning and SQL-replayable
      .orderBy(h, col(idCol))
      .limit(maxSampleDocs.toInt)
      .select(shingles(col(textCol), n))
      .collect().map { r =>
        if (r.isNullAt(0)) Array.emptyIntArray
        else r.getSeq[String](0).map(dict.getOrElseUpdate(_, dict.size))
          .toArray.sorted
      }
    val nDocs = sets.length.toLong
    require(nDocs >= 2, s"sampleJaccardStats: sample has $nDocs docs; " +
      "raise samplePpm")
    val shared = (for {
      i <- sets.indices.iterator
      j <- (i + 1 until sets.length).iterator
      inter = sortedIntersection(sets(i), sets(j))
      if inter > 0
    } yield inter.toDouble / (sets(i).length + sets(j).length - inter))
      .toArray.sorted
    val nPairs = nDocs * (nDocs - 1) / 2
    val zeroes = nPairs - shared.length
    def quantile(q: Double): Double = {
      val idx = math.min(nPairs - 1, math.ceil(q * nPairs).toLong - 1)
      if (idx < zeroes) 0.0 else shared((idx - zeroes).toInt)
    }
    // p50 is the background measure to feed [[DedupProfile.derive]]:
    // the upper tail legitimately contains the near-dups LSH SHOULD
    // admit (planted dups sit at J≈1), so p95 overestimates background
    JaccardStats(nDocs, nPairs,
      meanJ = shared.sum / nPairs,
      p50J = quantile(0.50),
      p95J = quantile(0.95),
      maxJ = if (shared.nonEmpty) shared.last else 0.0)
  }

  /** |a ∩ b| of two strictly ascending int arrays. */
  private def sortedIntersection(a: Array[Int], b: Array[Int]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** EXACT prefix-filtered all-pairs Jaccard join (PPJoin-style
    * candidate generation — Xiao et al., "Efficient Similarity Joins
    * for Near Duplicate Detection", WWW 2008): the leg [[jaccardPairs]]
    * takes above the bitset vocabulary, and public so a caller can
    * name it directly. Same output as [[jaccardPairs]].
    *
    * Order every document's token set canonically by ascending global
    * document frequency (ties by token). For J >= t a pair must share
    * at least ceil(t·max(|A|,|B|)) tokens, so if A shares NONE of its
    * first |A| - ceil(t·|A|) + 1 tokens (its "prefix") with B, at most
    * ceil(t·|A|) - 1 common tokens remain — too few. The smallest
    * common token therefore lies in BOTH prefixes, and joining prefix
    * against prefix finds every qualifying pair.
    *
    * Why this is the 100 TB path: a plain posting-list self-join
    * touches every shared token — a stopword shared by
    * 1% of a corpus alone contributes 10^14 pair-rows at 10^9 docs.
    * Rare-first canonical ordering puts exactly those hot tokens LAST,
    * outside every prefix: candidate generation only ever joins the
    * rarest ~(1-t) fraction of each document, so the Zipf head never
    * reaches a reducer (structural skew immunity: the hot work is
    * eliminated, not spread). Verification is one candidate-keyed
    * `array_intersect` re-rank — exact, so the result is bit-identical
    * to the bitset leg (differential-tested against a brute-force set
    * Jaccard).
    *
    * ceil(t·n) uses the integer under-approximation
    * floor(t·10⁴)·n ceil-divided by 10⁴, which can only LENGTHEN the
    * prefix — extra candidates, never a missed pair. */
  def jaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 1, threshold: Double = 0.9): DataFrame = {
    val docs = shingleSets(df, idCol, textCol, n)
    prefixPairs(docs, shingleFreq(explodeSets(docs)), threshold)
  }

  /** Each doc's distinct shingles: (id, sh, n_sh). */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))

  /** [[shingleSets]] exploded to one (id, n_sh, shingle) row per shingle. */
  private def explodeSets(docs: DataFrame): DataFrame =
    docs.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))

  /** Document frequency of every shingle of an exploded index:
    * (shingle, __tf), one row per vocabulary word. */
  private def shingleFreq(index: DataFrame): DataFrame =
    index.groupBy("shingle").agg(count(lit(1)).as("__tf"))

  /** The prefix leg over [[shingleSets]] `docs` and their
    * [[shingleFreq]] `freq` (scaladoc of [[jaccardPairsPrefix]]). */
  private def prefixPairs(docs: DataFrame, freq: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val index = explodeSets(docs)
    val tNum = math.floor(threshold * 10000).toLong
    // canonical position of each token within its document: rarest
    // first — a per-doc window, keyed on id
    val pos = index.join(freq, Seq("shingle"))
      .withColumn("__pos", row_number().over(
        Window.partitionBy("id").orderBy(col("__tf"), col("shingle"))))
    val prefix = pos.filter(col("__pos") <=
      col("n_sh") - expr(s"(n_sh * $tNum + 9999) div 10000") + 1L)
    val cand = prefix
      .select(col("id").as("id_a"), col("n_sh").as("na"), col("shingle"))
      .join(prefix.select(col("id").as("id_b"), col("n_sh").as("nb"),
          col("shingle").as("__shb")),
        col("shingle") === col("__shb") && col("id_a") < col("id_b") &&
          col("na") * tNum <= col("nb") * 10000L &&
          col("nb") * tNum <= col("na") * 10000L)
      .select("id_a", "id_b").distinct()
    // exact verification: candidate-keyed re-rank over the full token
    // sets (arrays are doc-bounded; both joins are keyed on doc id)
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("__sha"),
        col("n_sh").as("na")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("__shb2"),
        col("n_sh").as("nb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("__sha"), col("__shb2"))).cast("long"))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "un", "jaccard")
  }

  /** Deterministic even split of a length-`L` string into `k+1`
    * segments: the first `L mod (k+1)` segments get one extra char.
    * Returns (0-based start, length) of segment `j` as columns —
    * integer arithmetic only, so an external replay (SQL oracle, a
    * sibling engine) reproduces the exact same geometry. */
  private def segGeom(len: Column, j: Column, k: Int): (Column, Column) = {
    val base = floor(len / (k + 1)).cast("int")
    val r = (len - base * (k + 1)).cast("int")
    (j * base + least(j, lit(0) + r), base + when(j < r, 1).otherwise(0))
  }

  /** Edit-distance similarity join over the DISTINCT strings of
    * `strCol` WITHOUT an all-pairs cartesian — the partition-based
    * (PassJoin-style) blocking: split every indexed string into `k+1`
    * contiguous segments; if `lev(a, b) <= k` then at least one of
    * `b`'s segments is untouched by any edit (pigeonhole over k edits),
    * so it appears in `a` as an EXACT substring, shifted by at most `k`
    * positions. Candidates are therefore an equi-join of indexed
    * segments against probe substrings on (partner length, segment id,
    * content) — never a cross join — and `levenshtein` runs only on the
    * survivors (false candidates cost one residual check; completeness
    * is the pigeonhole argument, verified differentially in
    * `FuzzyJoinSpec`).
    *
    * Strings of length `<= k` cannot be segmented; they are paired
    * against the (alphabet-bounded, tiny) `<= 2k`-length bucket via a
    * broadcast nested loop — the length-band filter `|len(a) - len(b)|
    * <= k` makes anything longer unreachable from them anyway.
    *
    * Operating on distinct strings is the 100 TB shape: multiplicity
    * fans back out AFTER the quadratic-risk step ([[fuzzyJoinBlocked]]),
    * so a billion rows with a million distinct names never pay more
    * than the million-name blocking cost. Probe fan-out per distinct
    * string is bounded: `(2k+1)` partner lengths x `(k+1)` segments x
    * `<= (2k+1)` aligned positions.
    *
    * Returns (s_a, s_b, dist), `s_a < s_b`, `dist <= maxDist`. */
  def fuzzyPairsBlocked(df: DataFrame, strCol: String,
      maxDist: Int): DataFrame = {
    val k = maxDist
    require(k >= 1, s"fuzzyPairsBlocked: maxDist must be >= 1 (got $k); " +
      "exact duplicates are dedupExact's job")
    val names = df.select(col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull).distinct()
      .withColumn("len", length(col("s")))
    val longs = names.filter(col("len") > k)
    // index side: the k+1 segments of every string, keyed by its length
    val (iStart, iLen) = segGeom(col("L"), col("j"), k)
    val idx = longs
      .select(col("s").as("s_b"), col("len").as("L"),
        explode(sequence(lit(0), lit(k))).as("j"))
      .withColumn("seg", col("s_b").substr(iStart + 1, iLen))
    // probe side: for every partner length in the +-k band, every
    // segment of THAT geometry, at every start within +-k of its home
    // position (an edit-free segment shifts by at most the k edits)
    val (pStart, pLen) = segGeom(col("L"), col("j"), k)
    val probe = longs
      .select(col("s").as("s_a"), col("len").as("la"))
      .withColumn("L", explode(sequence(
        greatest(col("la") - k, lit(k + 1)), col("la") + k)))
      .withColumn("j", explode(sequence(lit(0), lit(k))))
      .withColumn("lo", greatest(pStart - k, lit(0)))
      .withColumn("hi", least(pStart + k, col("la") - pLen))
      .filter(col("hi") >= col("lo"))
      .withColumn("p", explode(sequence(col("lo"), col("hi"))))
      .withColumn("sub", col("s_a").substr(col("p") + 1, pLen))
      .select("s_a", "L", "j", "sub")
    val candLong = probe.join(idx,
        probe("L") === idx("L") && probe("j") === idx("j") &&
          probe("sub") === idx("seg") && col("s_a") =!= col("s_b"))
      .select(least(col("s_a"), col("s_b")).as("s_a2"),
        greatest(col("s_a"), col("s_b")).as("s_b2"))
    // short bucket: <= k chars (unsegmentable); partners must sit
    // within the k length band, i.e. <= 2k chars — both sets bounded
    // by alphabet size, so the nested loop rides a broadcast
    val shorts = names.filter(col("len") <= k)
      .select(col("s").as("s_a"))
    val nearShort = names.filter(col("len") <= 2 * k)
      .select(col("s").as("s_b"))
    val candShort = broadcast(shorts).join(nearShort,
        col("s_a") =!= col("s_b"))
      .select(least(col("s_a"), col("s_b")).as("s_a2"),
        greatest(col("s_a"), col("s_b")).as("s_b2"))
    candLong.unionByName(candShort).distinct()
      .select(col("s_a2").as("s_a"), col("s_b2").as("s_b"),
        levenshtein(col("s_a2"), col("s_b2")).cast("long").as("dist"))
      .filter(col("dist") <= k)
  }

  /** Row-level fuzzy self-join: every id pair whose strings are within
    * `maxDist` edits, `key_a < key_b` — the record-linkage surface.
    * The quadratic-risk step runs on DISTINCT strings
    * ([[fuzzyPairsBlocked]]); multiplicity fans back out afterwards
    * through two keyed equi-joins, and identical-string groups
    * contribute their (dist 0) pairs via one self-join on the string.
    * Returns (key_a, key_b, name_a, name_b, dist). */
  def fuzzyJoinBlocked(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    val recs = df.select(col(idCol).cast("long").as("__id"),
      col(strCol).cast("string").as("__s")).filter(col("__s").isNotNull)
    val pairs = fuzzyPairsBlocked(df, strCol, maxDist)
    val a = recs.select(col("__id").as("ka"), col("__s").as("sa"))
    val b = recs.select(col("__id").as("kb"), col("__s").as("sb"))
    val crossNames = pairs
      .join(a, col("sa") === col("s_a"))
      .join(b, col("sb") === col("s_b"))
      .select(
        least(col("ka"), col("kb")).as("key_a"),
        greatest(col("ka"), col("kb")).as("key_b"),
        when(col("ka") <= col("kb"), col("sa")).otherwise(col("sb"))
          .as("name_a"),
        when(col("ka") <= col("kb"), col("sb")).otherwise(col("sa"))
          .as("name_b"),
        col("dist"))
    val sameName = a.join(b,
        col("sa") === col("sb") && col("ka") < col("kb"))
      .select(col("ka").as("key_a"), col("kb").as("key_b"),
        col("sa").as("name_a"), col("sb").as("name_b"),
        lit(0L).as("dist"))
    crossNames.unionByName(sameName)
  }

  /** SOFT exact dedup — duplicate-count-weighted sampling (the
    * SlimPajama-adjacent middle ground between keep-all and
    * [[keepFirstExact]]): each member of an exact-content group
    * survives with probability ≈ 1/count, so every distinct content
    * contributes ~1 copy in expectation — repeated boilerplate is
    * DOWN-WEIGHTED rather than erased, preserving the natural
    * frequency signal cited against hard dedup. Zero RNG: a copy is
    * kept iff `h31(id) mod 1000 < ⌊1000/count⌋` — the deterministic
    * hash-threshold trick of the train/val split, reproducible under
    * any partitioning and in any engine. Unique documents
    * (count = 1) always survive.
    *
    * Shape: one content-keyed count agg + one content-keyed join back
    * + a narrow filter — shuffle bounded by distinct contents; the
    * count table carries ONE row per content, so even a
    * million-duplicate group costs one join row, not a blowup.
    * Returns the surviving rows plus `dup_count`. */
  def softDedupSample(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // content key: (length, xxhash64) — codegen'd and ~6x cheaper than
    // md5 on long text; the group COUNTS (all the output depends on)
    // are hash-agnostic, and the 64-bit+length key keeps accidental
    // collisions below the soft-sampling noise floor even at corpus
    // scale (a collision only nudges one group's dup_count)
    val hKey = struct(length(col(textCol)), xxhash64(col(textCol)))
    val cnt = df.groupBy(hKey.as("__h"))
      .agg(count(lit(1)).as("dup_count"))
    df.withColumn("__h", hKey)
      .join(cnt, Seq("__h"))
      .filter(graft.ext.TextAnalysis.tokenHash31(
        col(idCol).cast("string")) % 1000L <
        expr("CAST(1000 AS BIGINT) div dup_count"))
      .drop("__h")
  }

  /** Cluster-representative selection — the KEEP-POLICY half of
    * near-dup dedup (min-id is a tie-break convention, not a policy;
    * production pipelines keep the BEST member of each cluster, e.g.
    * the longest or highest-quality-scored document). Given cluster
    * assignments `(idCol, clusterCol, qualityCol, …)`, returns one row
    * per cluster: the member with the maximum integral quality, ties
    * to the smallest id (deterministic under any partitioning — the
    * argmax is a single max-struct with the id negated into the
    * comparator, no window, no sort).
    *
    * Shape: ONE cluster-keyed hash-agg with map-side combine —
    * shuffle bounded by cluster count. `qualityCol` must be integral
    * (exact comparisons; a float score can differ by formation order
    * across engines — floor it first). */
  def bestInCluster(assign: DataFrame, idCol: String, clusterCol: String,
      qualityCol: String): DataFrame =
    assign
      .groupBy(col(clusterCol))
      .agg(max(struct(
        col(qualityCol).cast("long").as("q"),
        (-col(idCol).cast("long")).as("negid"))).as("__w"))
      .select(col(clusterCol),
        (-col("__w.negid")).as(idCol),
        col("__w.q").as(qualityCol))

  /** C4 CROSS-DOCUMENT span dedup — "discard all but one of any
    * three-sentence span occurring more than once in the data set"
    * (Raffel et al. 2020, §2.2; the reference C4 pipeline's exact-dedup
    * step). Returns one row per input document: `(idCol, n_sentences,
    * n_dropped, kept_text)` where `kept_text` is the document
    * reassembled from surviving sentences in original order.
    *
    * Semantics: sentences segment via [[TextAnalysis.sentences]];
    * every run of `spanSents` CONSECUTIVE sentences is a span; spans
    * are grouped corpus-wide and the occurrence with the smallest
    * `(doc_id, position)` is the keeper; every sentence covered by a
    * non-keeper occurrence of a duplicated span is dropped (overlaps
    * union — C4's own rule is positional too). Documents with fewer
    * than `spanSents` sentences have no spans and pass through whole.
    *
    * Scale shape: sentence explode (map-side) → spans via `lead` over
    * an id-keyed window (doc_id is the natural high-cardinality
    * partition key — never a global sort) → ONE corpus-scale keyed
    * shuffle on the span key → keeper argmin as a struct-min aggregate
    * (map-side combined) → drop positions explode → anti-join →
    * id-keyed reassembly. The span key is the PAIR of independent
    * 31-bit hashes (same double-hash trick as the bloom probes):
    * ~2^-62 collision odds at any corpus size while shuffling two
    * longs instead of three-sentence strings; both hashes are the
    * md5-derived [[TextAnalysis.tokenHash31]], so a SQL oracle replays
    * every key exactly. All downstream joins are hash-keyed; no
    * driver state anywhere. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanSents: Int = 3): DataFrame =
    spanDedupImpl(df, idCol, textCol, None, spanSents)

  /** [[spanDedup]] against PRE-EXISTING history — the incremental form
    * a freeze batch composes ([[graft.streaming.CorpusStream.freezeBatch]]):
    * any span whose `(h1, h2)` key
    * appears in `histSpans` drops ALL its occurrences in this frame
    * (its keeper lives in history); spans new to the frame resolve
    * their keeper within the frame exactly as [[spanDedup]]. When
    * document ids increase monotonically across frames, frame-by-frame
    * application equals one global [[spanDedup]] over the union
    * (spec-pinned — the first occurrence is then always in the
    * earliest frame). */
  def spanDedupAgainst(df: DataFrame, idCol: String, textCol: String,
      histSpans: DataFrame, spanSents: Int = 3): DataFrame =
    spanDedupImpl(df, idCol, textCol, Some(histSpans), spanSents)

  /** Span keys `(id, idx, h1, h2)` of a corpus frame — the rows the
    * streaming span STORE persists. Same double-hash key as
    * [[spanDedup]] builds internally. */
  def spanKeys(df: DataFrame, idCol: String, textCol: String,
      spanSents: Int = 3): DataFrame = {
    require(spanSents >= 2 && spanSents <= 16,
      s"spanKeys: spanSents in [2,16] ($spanSents)")
    spanTable(sentenceTable(df, idCol, textCol), spanSents)
  }

  /** Sentence table `(id, idx, s)` (position within document). */
  private def sentenceTable(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      posexplode(TextAnalysis.sentences(col(textCol)))
        .as(Seq("idx", "s")))

  /** Span keys over a [[sentenceTable]]: complete `spanSents`-runs via
    * `lead` on the id-keyed window, double-31-bit hash key. */
  private def spanTable(sent: DataFrame, spanSents: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("idx")
    // complete spans only: the (spanSents-1)-ahead lead must exist
    // (positions are contiguous, so the intermediate leads then do too)
    val parts = (1 until spanSents)
      .foldLeft(Seq(col("s"))) { (acc, k) => acc :+ lead("s", k).over(w) }
    sent
      .withColumn("span", concat_ws("\u0001", parts: _*))
      .withColumn("tail_s", lead("s", spanSents - 1).over(w))
      .filter(col("tail_s").isNotNull)
      .select(col("id"), col("idx"),
        TextAnalysis.tokenHash31(col("span")).as("h1"),
        TextAnalysis.tokenHash31(concat(col("span"), lit("#")))
          .as("h2"))
  }

  private def spanDedupImpl(df: DataFrame, idCol: String,
      textCol: String, histSpans: Option[DataFrame], spanSents: Int)
      : DataFrame = {
    require(spanSents >= 2 && spanSents <= 16,
      s"spanDedup: spanSents in [2,16] ($spanSents)")
    val sent = sentenceTable(df, idCol, textCol)
    val spans = spanTable(sent, spanSents)
    val keeper = spans.groupBy("h1", "h2")
      .agg(min(struct(col("id"), col("idx"))).as("k"),
        count(lit(1)).as("occ"))
    // a span occurrence drops when its key is already in HISTORY (the
    // keeper lives in an earlier frame), or when it is a non-keeper
    // occurrence of a span duplicated within this frame
    val withHist = histSpans match {
      case None => spans.join(keeper, Seq("h1", "h2"))
        .withColumn("__seen", lit(null).cast("int"))
      case Some(h) => spans.join(keeper, Seq("h1", "h2"))
        .join(h.select(col("h1"), col("h2")).distinct()
          .withColumn("__seen", lit(1)), Seq("h1", "h2"), "left_outer")
    }
    val drops = withHist
      .filter(col("__seen").isNotNull ||
        (col("occ") > 1L &&
          !(col("id") === col("k.id") && col("idx") === col("k.idx"))))
      .select(col("id"), explode(sequence(col("idx"),
        col("idx") + lit(spanSents - 1))).as("idx"))
      .distinct()
    val kept = sent.join(drops, Seq("id", "idx"), "left_anti")
    val agg = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("idx"), col("s")))),
        x => x.getField("s"))).as("kept_text"))
    val tot = sent.groupBy("id").agg(
      count(lit(1)).as("n_sentences"))
    df.select(col(idCol).as("id"))
      .join(tot, Seq("id"), "left")
      .join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
        (coalesce(col("n_sentences"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }
}
