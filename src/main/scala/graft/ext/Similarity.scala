package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * All cosine math runs on QUANTIZED integers: q_i = floor(v_i * 1e6) as
  * long. Rationale (SURVEY.md §5 determinism rules):
  *  - integer sums commute exactly -> results independent of partitioning
  *    and aggregation order (a distributed-correctness property, not just
  *    an oracle convenience);
  *  - float->int quantization (`floor`) and integer ops are bit-identical
  *    across engines, so DuckDB oracles can replay the math;
  *  - max |q| <= 2^21-ish for unit-normed embeddings => dot products stay
  *    far below 2^63 (64 dims * (2^21)^2 = 2^47).
  *
  * Scale paths:
  *  - [[exactIndex]] + [[topK]]: brute-force top-k for one query
  *    vector — a single narrow map + TakeOrdered; at 100 TB this is the
  *    per-query scan you accept, or the re-rank stage after banding;
  *    [[ivfBuild]], [[pqBuild]] and [[ivfPqBuild]] are the trained
  *    indexes behind the same [[topK]] / [[topKMulti]] serve path.
  *  - [[bandedPairs]]: sign-random-projection LSH banding for all-pairs
  *    near-dup — candidates are same-band joins (shuffle on band key, no
  *    cross join), then exact re-rank.
  *  - [[bruteForcePairs]]: exact all-pairs (block-nested via cross join) —
  *    correct at any SF but O(n²); kept as the small-n oracle-checkable
  *    baseline and the recall yardstick for the banded variant.
  */
/** Measured sign-agreement quantiles of a corpus sample (permils —
  * exact integers an oracle replays). `p50Permil` is the background
  * measure for [[SimilarityProfile.derive]]; the upper tail
  * legitimately holds the near-dups LSH should admit. */
case class SignAgreeStats(nVecs: Long, nPairs: Long, p50Permil: Long,
    p95Permil: Long, maxPermil: Long)

/** Sign-LSH band geometry for embeddings, derived rather than
  * hand-tuned — the embedding twin of [[DedupProfile]]. A pair at
  * sign-agreement p (as permil/1000) collides in one r-bit band with
  * probability p^r, in ≥1 of b bands with 1-(1-p^r)^b — the same
  * S-curve as minhash banding with the sign bit as the collision
  * unit. */
case class SimilarityProfile(kBits: Int, bands: Int, bitsPerBand: Int,
    thresholdPermil: Long) {
  require(kBits >= 1 && bands >= 1 && bitsPerBand >= 1,
    s"SimilarityProfile: kBits/bands/bitsPerBand positive: $this")
  require(bands * bitsPerBand <= kBits,
    s"SimilarityProfile: bands*bitsPerBand = ${bands * bitsPerBand} " +
      s"exceeds kBits=$kBits: $this")
  require(thresholdPermil > 0 && thresholdPermil <= 1000,
    s"SimilarityProfile: thresholdPermil in (0,1000]: $this")
}

object SimilarityProfile {
  /** Derive (bands, bitsPerBand) from a MEASURED background agreement
    * ([[Similarity.sampleSignAgreeStats]].p50Permil) exactly the way
    * [[DedupProfile.derive]] tunes minhash: among geometries within
    * `kBits` (≤ the embedding dim — sign bits ARE coordinates), keep
    * those admitting `thresholdPermil` pairs with probability ≥
    * `minRecall` and background pairs with probability ≤
    * `maxBackground`; argmin background probability (ties to fewer
    * bands — fewer shuffled rows). Every probability is a
    * [[DedupProfile.collisionProb]] fold — replayable bit-for-bit. */
  def derive(kBits: Int, thresholdPermil: Long, backgroundPermil: Long,
      minRecall: Double = 0.9, maxBackground: Double = 0.05)
      : SimilarityProfile = {
    require(backgroundPermil >= 0 && backgroundPermil < thresholdPermil,
      s"derive: backgroundPermil ($backgroundPermil) must be below " +
        s"thresholdPermil ($thresholdPermil) — equal means sign-LSH " +
        "cannot separate them")
    val pT = thresholdPermil / 1000.0
    val pB = backgroundPermil / 1000.0
    val candidates = for {
      r <- 1 to kBits
      b <- 1 to kBits / r
      if DedupProfile.collisionProb(pT, b, r) >= minRecall
      if DedupProfile.collisionProb(pB, b, r) <= maxBackground
    } yield (b, r)
    require(candidates.nonEmpty,
      s"derive: no (bands, bits) geometry within kBits=$kBits " +
        s"separates threshold=$thresholdPermil from " +
        s"background=$backgroundPermil at recall>=$minRecall / " +
        "background<=$maxBackground; raise kBits or relax the targets")
    val (b, r) = candidates.minBy { case (b, r) =>
      (DedupProfile.collisionProb(pB, b, r), b, r) }
    SimilarityProfile(kBits = kBits, bands = b, bitsPerBand = r,
      thresholdPermil = thresholdPermil)
  }
}

object Similarity {

  /** floor(v * 1e6) per element, as longs. Exact in both engines: a
    * float's value times 1e6 is exactly representable in double (24-bit
    * mantissa * 20-bit constant < 53 bits), and floor never ties. */
  def quantize(emb: Column): Column =
    transform(emb, v => floor(v * 1000000d).cast("long"))

  /** Exact integer dot product of two quantized vectors — custom
    * codegen'd expression ([[graft.functions.LongArrayDot]]); the
    * `aggregate(zip_with(...))` equivalent is CodegenFallback and ~20x
    * slower on per-pair hot paths. */
  def qdot(qa: Column, qb: Column): Column =
    graft.functions.LongArrayDot(qa, qb)

  /** Exact integer squared norm. */
  def qnorm2(q: Column): Column = graft.functions.LongArrayDot(q, q)

  /** Quantized cosine similarity: qdot / sqrt(qn_a * qn_b), computed from
    * exact integers with one sqrt and one division (bit-identical in any
    * IEEE-754 engine). */
  def cosineQ(qa: Column, qb: Column): Column =
    qdot(qa, qb).cast("double") /
      sqrt(qnorm2(qa).cast("double") * qnorm2(qb).cast("double"))

  /** Mean-pooling of quantized embeddings per group — the chunk→document
    * aggregation step of an embedding pipeline (chunks embed
    * independently at scale; the document vector is their mean). One
    * generator explode + ONE (group, dim)-keyed hash-agg, emitted LONG
    * format (group, pos, pooled_q) so the result stays scalar-typed and
    * oracle-hashable; floor(Σq/n) keeps every value integer-exact.
    * Shuffle is bounded by groups·dims, never by vector count. */
  def meanPool(emb: DataFrame, groupCol: String,
      embCol: String = "embedding"): DataFrame =
    emb.select(col(groupCol).as("grp"),
        posexplode(quantize(col(embCol))).as(Seq("pos", "v")))
      .groupBy("grp", "pos")
      .agg(floor(sum("v").cast("double") / count(lit(1)))
        .cast("long").as("pooled_q"))
      .select(col("grp"), col("pos").cast("long").as("pos"),
        col("pooled_q"))

  /** Hard cap for the O(n²) / full-scan differential baselines below.
    * They exist as correctness yardsticks for the banded/IVF scale paths
    * and must never silently run a cartesian against a production-sized
    * table; callers that really want a bigger baseline raise `maxRows`
    * explicitly and own the cost. */
  private def guardBaseline(emb: DataFrame, maxRows: Long, op: String,
      alternative: String): Unit = {
    // a plain RDD count is one job; Dataset.count's aggregate exchange
    // is two under adaptive execution
    val n = emb.select(lit(1)).rdd.count()
    require(n <= maxRows,
      s"$op is a differential BASELINE limited to maxRows=$maxRows input " +
        s"vectors (got $n). At scale use $alternative instead, or raise " +
        "maxRows explicitly if you accept the full cost.")
  }

  /** Sign-random-projection band keys. The "hyperplanes" are the
    * coordinate axes of dims [bandId*rowsPerBand, ...) — deterministic,
    * engine-portable, and adequate for banding: band key b_j =
    * fold of sign bits of that dim slice. Docs sharing any band key are
    * candidates. */
  def signBandKeys(q: Column, bands: Int = 4, rowsPerBand: Int = 8): Column = {
    val keys = (0 until bands).map { b =>
      (0 until rowsPerBand).foldLeft(lit(b.toLong)) { (acc, r) =>
        acc * 2L + when(element_at(q, b * rowsPerBand + r + 1) >= 0L, 1L)
          .otherwise(0L)
      }
    }
    array(keys: _*)
  }

  /** Sign-agreement permil of two quantized vectors: ⌊1000·|{i :
    * sign(qa_i) = sign(qb_i)}| / dim⌋ — the HAMMING-space twin of
    * cosine (for sign-LSH the collision unit IS the sign bit, so
    * deriving band geometry from agreement keeps every quantity an
    * integer an oracle replays; the acos(cos)/π conversion a
    * cosine-margin probe would need is transcendental and carries no
    * cross-engine bit guarantee). */
  def signAgreePermil(qa: Column, qb: Column): Column =
    floor(size(filter(zip_with(qa, qb,
        (x, y) => (x >= 0L) === (y >= 0L)), b => b))
      .cast("long") * 1000L / size(qa)).cast("long")

  /** Sample rate in PARTS PER MILLION targeting ~`target` sampled
    * rows out of `total` — integral and oracle-replayable
    * (`least/greatest` arithmetic), clamped to [1, 1000000]. Callers
    * derive the probe's rate from the MEASURED corpus count so the
    * sample tracks the target at any SF. Granularity matters: the
    * earlier per-MILLE rate floored at 1/1000, so past 1000·target
    * rows the sample grew as total/1000 and re-hit the quadratic
    * guard (the r12 ADVICE finding); per-million granularity holds
    * the target out to 10^6·target rows, and beyond even that the
    * probes' deterministic hash-ordered cap bounds the sample
    * absolutely — "bounded at any SF" is structural, not a rate
    * promise. The default target of 100 keeps the quadratic pair
    * count at ~5k — a p50/p95 estimate over thousands of pairs is
    * plenty for geometry derivation, and the probe's cost stays flat
    * as the corpus grows. */
  def derivedSamplePpm(total: Long, target: Long = 100L): Long =
    math.max(1L, math.min(1000000L,
      target * 1000000L / math.max(total, 1L)))

  /** Measured sign-agreement profile of a corpus sample — the
    * embedding-side twin of [[Dedup.sampleJaccardStats]]: hash-sampled
    * vectors (deterministic, replayable), ALL sample pairs' agreement
    * permils, and the quantiles [[SimilarityProfile.derive]] consumes.
    * The probe is quadratic in the sample AND collects every pair's
    * permil (~maxSampleDocs²/2 longs on the driver — 2000 docs is
    * already ~2M), so the sample is bounded STRUCTURALLY: the ppm
    * rate gate targets the sample size, and a deterministic
    * hash-ordered top-`maxSampleDocs` cap bounds it absolutely even
    * when the rate floor binds (the full corpus never pairs). */
  def sampleSignAgreeStats(emb: DataFrame, samplePpm: Long = 20000,
      maxSampleDocs: Long = 2000, idCol: String = "vec_id",
      embCol: String = "embedding"): SignAgreeStats = {
    require(samplePpm >= 1 && samplePpm <= 1000000L,
      s"sampleSignAgreeStats: samplePpm in [1,1000000] ($samplePpm)" +
        " — derive it from the measured corpus count with" +
        " derivedSamplePpm so the sample tracks the target at any SF")
    require(maxSampleDocs >= 2 && maxSampleDocs <= 5000,
      s"sampleSignAgreeStats: maxSampleDocs in [2,5000]" +
        s" ($maxSampleDocs) — the probe collects ~maxSampleDocs^2/2" +
        " pair permils on the driver")
    val h = TextAnalysis.tokenHash31(col(idCol).cast("string"))
    val sample = emb
      .filter(h % 1000000L < samplePpm)
      // deterministic hash-ordered cap — the ABSOLUTE bound on the
      // quadratic probe (a rate floor alone lets the sample grow with
      // the corpus once the clamp binds at 1 ppm). Top-k by (hash, id)
      // is a total order: identical under any partitioning, and an
      // ORDER BY/LIMIT replays it exactly in SQL.
      .orderBy(h, col(idCol))
      .limit(maxSampleDocs.toInt)
      .select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
    val nVecs = sample.count()
    require(nVecs >= 2, s"sampleSignAgreeStats: sample has $nVecs " +
      "vectors; raise samplePpm")
    val a = sample.select(col("id").as("ia"), col("q").as("qa"))
    val b = sample.select(col("id").as("ib"), col("q").as("qb"))
    val agrees = a.join(b, col("ia") < col("ib"))
      .select(signAgreePermil(col("qa"), col("qb")).as("ap"))
      .collect().map(_.getLong(0)).sorted
    val nPairs = nVecs * (nVecs - 1) / 2
    def quantile(q: Double): Long = {
      val idx = math.min(nPairs - 1, math.ceil(q * nPairs).toLong - 1)
      agrees(idx.toInt)
    }
    SignAgreeStats(nVecs, nPairs, p50Permil = quantile(0.50),
      p95Permil = quantile(0.95), maxPermil = agrees.last)
  }

  /** LSH-banded near-dup pairs under a DERIVED geometry, re-ranked in
    * the same SIGN-AGREEMENT space the geometry was derived in:
    * same-band candidates (sign bands over the leading
    * `bands·bitsPerBand` coordinates — requires that many dims), then
    * the exact integral agreement filter. The never-materialize-n²
    * contract of [[bandedPairs]] holds unchanged. */
  def bandedPairsAgree(emb: DataFrame, profile: SimilarityProfile,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    val q = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
      .withColumn("band", explode(
        signBandKeys(col("q"), profile.bands, profile.bitsPerBand)))
    val a = q.select(col("band"), col("id").as("id_a"), col("q").as("qa"))
    val b = q.select(col("band"), col("id").as("id_b"), col("q").as("qb"))
    a.join(b, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        signAgreePermil(col("qa"), col("qb")).as("agree_permil"))
      .distinct() // a pair can collide in several bands
      .filter(col("agree_permil") >= profile.thresholdPermil)
  }

  /** LSH-banded near-dup pairs: same-band candidates, exact quantized
    * cosine re-rank, threshold filter. Never materializes the n² space. */
  def bandedPairs(
      emb: DataFrame, threshold: Double,
      bands: Int = 4, rowsPerBand: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
      .withColumn("n2", qnorm2(col("q")))
      .withColumn("band", explode(signBandKeys(col("q"), bands, rowsPerBand)))
    val a = q.select(col("band"), col("id").as("id_a"), col("q").as("qa"),
      col("n2").as("na2"))
    val b = q.select(col("band"), col("id").as("id_b"), col("q").as("qb"),
      col("n2").as("nb2"))
    a.join(b, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (qdot(col("qa"), col("qb")).cast("double") /
          sqrt(col("na2").cast("double") * col("nb2").cast("double")))
          .as("score"))
      .distinct()   // a pair can collide in several bands
      .filter(col("score") >= threshold)
  }

  /** The Lloyd update of every k-means and PQ round: per `keys` group,
    * the floor-mean of the `vec` arrays, qc_d = floor(Σ v_d / n), as
    * (keys…, qc array<long>). The floor of the double division is exact:
    * when n divides S the quotient is an integer < 2^53; when it
    * doesn't, the true value sits >= 1/n away from any integer, far
    * beyond double rounding error — so both engines floor identically.
    * Integer centroids keep every later distance computation exact.
    * Groups that lost all members simply disappear (k shrinks) —
    * deterministic in any engine, no RNG re-seeding. */
  private def floorMeans(rows: DataFrame, keys: Seq[String],
      vec: String): DataFrame =
    rows.select(keys.map(col) :+ posexplode(col(vec)): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .withColumn("c",
        floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("qc"))

  /** Lloyd-iteration k-means over quantized vectors `e(id, q)`, fully
    * deterministic so a SQL oracle can replay it:
    *  - seeds = the first `nCentroids` vectors by id (no RNG);
    *  - assignment = exact integer squared distance, ties to the
    *    smallest centroid label ([[assignNearest]]);
    *  - update = floor(mean) per dim — exact integers
    *    ([[floorMeans]]).
    * Between iterations the k×dims model is collected to the driver and
    * re-literalized — the canonical Spark iterative-ML shape (only the
    * model state ever moves; lineage stays flat regardless of `iters`).
    * Returns (clabel, qc). */
  def trainCentroids(e: DataFrame, nCentroids: Int = 16,
      iters: Int = 2): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    var cents = e.filter(col("id") < nCentroids)
      .select(col("id").cast("long").as("clabel"), col("q").as("qc"))
    for (_ <- 1 to iters) {
      val assigned = assignNearest(e.select("id", "q"), "q", cents)
      val next = floorMeans(
          assigned.select(col("assigned").as("clabel"), col("q")),
          Seq("clabel"), "q")
        .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
      cents = next.toDF("clabel", "qc")
    }
    cents
  }

  /** Per-label centroids of quantized vectors: (clabel, qc array<long>),
    * qc_d = floor(Σ q_d / n) ([[floorMeans]]). */
  def labelCentroids(emb: DataFrame, labelCol: String,
      embCol: String): DataFrame =
    floorMeans(emb.select(col(labelCol).as("clabel"),
      quantize(col(embCol)).as("q")), Seq("clabel"), "q")

  /** One k-means ASSIGNMENT step: each vector to its nearest centroid by
    * exact integer squared distance (|v-c|² = |v|² + |c|² - 2·v·c). ALL
    * vectors and centroids must share one dimensionality — with ragged
    * lengths the dot covers only the common prefix while the norms cover
    * full arrays, and the identity breaks. Ties break to the smallest
    * centroid label — deterministic under any partitioning.
    *
    * The centroid table — bounded model state by contract ("only the
    * k×dims table moves") — is collected and embedded in the plan as
    * [[graft.functions.NearestCode]]'s literal codebook, making the
    * assignment a MAP-ONLY codegen'd projection: no k× candidate-row
    * blowup through a cross join, no re-aggregation, no shuffle at all.
    * One output row per input row (strictly more general than the old
    * join+min-struct shape, which deduplicated identical input rows).
    * Labels must be INTEGRAL and `assigned` comes back as bigint
    * (index non-integral labels to dense ids before assignment). */
  def assignNearest(vecs: DataFrame, qCol: String,
      cents: DataFrame): DataFrame = {
    // fail loudly on column shadowing — same contract as the join-shaped
    // implementation this replaces, so callers stay honest
    val reserved = Seq("clabel", "qc", "__vn2", "__cn2", "__d2", "__best",
      "assigned", "dist2")
    val clash = vecs.columns.intersect(reserved)
    require(clash.isEmpty,
      s"assignNearest: input columns ${clash.mkString(", ")} collide with " +
        "centroid/working columns; rename them before assignment")
    require(cents.columns.sorted.sameElements(Array("clabel", "qc")),
      s"assignNearest: centroid frame must be exactly (clabel, qc), got " +
        cents.columns.mkString("(", ", ", ")"))
    // the plan-embedded codebook carries labels as longs; integral
    // label types widen (`assigned` comes back as bigint) — fail with
    // guidance, not an opaque up-cast analysis error, on anything else
    // (the old join-shaped path ordered arbitrary label types; map
    // non-integral labels to dense ids before assignment if needed)
    val labelType = cents.schema("clabel").dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(labelType),
      s"assignNearest: clabel must be integral (got $labelType); index " +
        "non-integral labels to dense ids before assignment")
    val spark = vecs.sparkSession
    import spark.implicits._
    val local = cents.select(col("clabel").cast("long").as("clabel"),
        col("qc"))
      .as[(Long, Seq[Long])].collect().toSeq
      .map { case (l, qc) => (0L, l, qc) }
    vecs
      .withColumn("__best",
        graft.functions.NearestCode(col(qCol), lit(0L), local))
      .withColumn("assigned", col("__best.assigned"))
      .withColumn("dist2", col("__best.dist2"))
      .drop("__best")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means the embedding space ([[ivfBuild]] — deterministic Lloyd
    * rounds), then compare pairs ONLY within a cluster; any vector
    * with a lower-id same-cluster neighbour at cosine >= `threshold` is
    * dropped (the same keep-lowest convention as
    * `dedup_embedding_survivors`). The cluster key bounds the pairwise
    * work at n²/k per cluster instead of n² globally — at 100 TB you
    * raise `nCentroids` so the expected cluster fits an executor, and
    * the pair join is an equi-join on `cluster_id` (one keyed exchange),
    * never a cartesian. Trade-off vs [[bandedPairs]]: LSH banding
    * recalls near-dups that straddle a cluster boundary; SemDeDup's
    * point is the opposite — semantic redundancy WITHIN a region is
    * what it prunes, and the cluster partition is also the downstream
    * curriculum/mixture unit. Returns surviving (id, cluster_id). */
  def semanticDedupSurvivors(
      emb: DataFrame, threshold: Double,
      nCentroids: Int = 16, kmeansIters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assign = ivfBuild(emb, nCentroids, kmeansIters = kmeansIters,
      idCol = idCol, embCol = embCol).assign
    val dropped = pairsWithinClusters(assign, threshold)
      .select(col("id_b").as("id")).distinct()
    assign
      .join(dropped, Seq("id"), "left_anti")
      .select("id", "cluster_id")
  }

  /** The qualifying same-cluster near-dup pairs behind
    * [[semanticDedupSurvivors]]: (id_a, id_b, cluster_id, score) with
    * id_a < id_b and quantized cosine >= `threshold`. Exposed separately
    * so audits can inspect WHAT was deduplicated, not just what
    * survived. */
  def semanticDedupPairs(
      emb: DataFrame, threshold: Double,
      nCentroids: Int = 16, kmeansIters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    pairsWithinClusters(ivfBuild(emb, nCentroids, kmeansIters = kmeansIters,
      idCol = idCol, embCol = embCol).assign, threshold)

  /** Cosine-threshold pairs restricted to one cluster — an equi-join on
    * `cluster_id`, never a cartesian. */
  private def pairsWithinClusters(assign: DataFrame,
      threshold: Double): DataFrame = {
    val n = assign.withColumn("n2", qnorm2(col("q")))
    val a = n.select(col("cluster_id"), col("id").as("id_a"),
      col("q").as("qa"), col("n2").as("na2"))
    val b = n.select(col("cluster_id"), col("id").as("id_b"),
      col("q").as("qb"), col("n2").as("nb2"))
    a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("cluster_id"),
        (qdot(col("qa"), col("qb")).cast("double") /
          sqrt(col("na2").cast("double") * col("nb2").cast("double")))
          .as("score"))
      .filter(col("score") >= threshold)
  }

  /** Exact all-pairs with threshold — O(n²), the correctness baseline.
    * Guarded: refuses more than `maxRows` input vectors so the cartesian
    * can never silently run at scale — [[bandedPairs]] is the scale path. */
  def bruteForcePairs(
      emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxRows: Long = 100000L): DataFrame = {
    guardBaseline(emb, maxRows, "bruteForcePairs (O(n²) exact baseline)",
      "bandedPairs (LSH-banded candidates + exact re-rank)")
    val q = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val a = q.select(col("id").as("id_a"), col("q").as("qa"), col("n2").as("na2"))
    val b = q.select(col("id").as("id_b"), col("q").as("qb"), col("n2").as("nb2"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (qdot(col("qa"), col("qb")).cast("double") /
          sqrt(col("na2").cast("double") * col("nb2").cast("double")))
          .as("score"))
      .filter(col("score") >= threshold)
  }

  /** A built ANN index — build once, serve many. Every index is a build
    * returning a model; every query is served by [[topK]] (one query)
    * or [[topKMulti]] (a batch) over the model's `score`: (query_id,
    * vec_id[, cluster_id], score) for every candidate of every query in
    * `queryIds`, query vectors read from `emb` by id (the build's
    * `idCol` / `embCol`), a query's own vector never scoring. Training,
    * encoding and the corpus pass are paid once per build; the
    * per-query marginal cost is the model's scan. `release()`
    * unpersists exactly what the build persisted; served frames are
    * lazy and read those caches, so release after the last action, or
    * leave it to `spark.catalog.clearCache()` (what Bench and Verify do
    * between queries). */
  sealed trait AnnModel {
    def idCol: String
    def embCol: String
    def score(emb: DataFrame, queryIds: Seq[Long]): DataFrame
    def release(): Unit = ()

    /** The query batch (query_id, q), quantized. */
    protected def queries(emb: DataFrame, queryIds: Seq[Long]): DataFrame =
      emb.filter(col(idCol).isin(queryIds: _*))
        .select(col(idCol).as("query_id"), quantize(col(embCol)).as("q"))
  }

  /** Top-`k` neighbours of ONE query: (vec_id[, cluster_id], score) by
    * score desc, vec_id. The orderBy + limit is a TakeOrdered — no rank
    * window, no global sort materialization. */
  def topK(model: AnnModel, emb: DataFrame, queryId: Long, k: Int)
      : DataFrame =
    model.score(emb, Seq(queryId)).drop("query_id")
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** Top-`k` neighbours of every query in a batch, ranked by a window
    * keyed on query id (high-cardinality at real QPS — scale-safe):
    * (query_id, vec_id[, cluster_id], score, rn) for rn <= k. A
    * one-query batch reproduces [[topK]] exactly. */
  def topKMulti(model: AnnModel, emb: DataFrame, queryIds: Seq[Long],
      k: Int): DataFrame = {
    require(queryIds.nonEmpty, "topKMulti: at least one query id")
    model.score(emb, queryIds)
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rn") <= k)
  }

  /** The exact full-scan index: the quantized corpus (vec_id, qe),
    * nothing trained. Quantization is a per-row projection; only the
    * codegen'd dot runs per pair, against a broadcast query batch. */
  final case class ExactIndex(corpus: DataFrame, idCol: String,
      embCol: String) extends AnnModel {
    def score(emb: DataFrame, queryIds: Seq[Long]): DataFrame =
      corpus.crossJoin(broadcast(queries(emb, queryIds)))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosineQ(col("qe"), col("q")).as("score"))
  }

  /** Build the [[ExactIndex]]. Guarded: it is the full-scan baseline —
    * [[ivfBuild]] is the scale path that scans only probed clusters. */
  def exactIndex(emb: DataFrame, maxRows: Long = 10000000L,
      idCol: String = "vec_id", embCol: String = "embedding"): ExactIndex = {
    guardBaseline(emb, maxRows, "exactIndex (full-scan exact baseline)",
      "ivfBuild (probes nProbe/nCentroids of the data)")
    ExactIndex(emb.select(col(idCol).as("vec_id"),
      quantize(col(embCol)).as("qe")), idCol, embCol)
  }

  /** IVF: k-means-trained `centroids` (clabel, qc) ([[trainCentroids]])
    * and the corpus `assign`ed to its nearest centroid by exact integer
    * squared distance (id, q, cluster_id). A query probes its `nProbe`
    * closest centroids, and only those clusters are scanned with the
    * exact cosine re-rank. At scale the assignment is a write-time
    * partition key, so a query scans nProbe/nCentroids of the data;
    * trained (not arbitrary) centroids keep recall high under that
    * pruning. */
  final case class IvfModel(centroids: DataFrame, assign: DataFrame,
      nProbe: Int, idCol: String, embCol: String) extends AnnModel {
    def score(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
      val (qs, pairs) = probe(queries(emb, queryIds), centroids, nProbe)
      probed(assign, pairs)
        .join(broadcast(qs.withColumnRenamed("q", "qq")), Seq("query_id"))
        .select(col("query_id"), col("id").as("vec_id"), col("cluster_id"),
          cosineQ(col("q"), col("qq")).as("score"))
    }
  }

  /** Build an [[IvfModel]]: train the centroids, assign the corpus. */
  def ivfBuild(emb: DataFrame, nCentroids: Int = 16, nProbe: Int = 4,
      kmeansIters: Int = 2, idCol: String = "vec_id",
      embCol: String = "embedding"): IvfModel =
    ivfTrain(quantized(emb, idCol, embCol), nCentroids, nProbe,
      kmeansIters, idCol, embCol)

  /** [[ivfBuild]] over a quantized corpus `e` (id, q) — [[ivfPqBuild]]
    * passes the copy it persists. */
  private def ivfTrain(e: DataFrame, nCentroids: Int, nProbe: Int,
      kmeansIters: Int, idCol: String, embCol: String): IvfModel = {
    val cents = trainCentroids(e, nCentroids, kmeansIters)
    IvfModel(cents, assignTo(e, cents), nProbe, idCol, embCol)
  }

  private def quantized(emb: DataFrame, idCol: String,
      embCol: String): DataFrame =
    emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))

  /** Every vector of `e` (id, q) to its nearest centroid: (id, q,
    * cluster_id). */
  private def assignTo(e: DataFrame, cents: DataFrame): DataFrame =
    assignNearest(e.select("id", "q"), "q", cents)
      .select(col("id"), col("q"), col("assigned").as("cluster_id"))

  /** The probe step of the IVF serves, on the driver: the query batch
    * is collected ONCE (Q vectors, bounded query state) and comes back
    * as a local frame that every later use reads instead of rescanning
    * the corpus, with each query's `nProbe` nearest centroids (exact
    * integer squared distance, ties to the smaller label) as
    * (query_id, cluster_id) pairs. */
  private def probe(qs: DataFrame, centroids: DataFrame,
      nProbe: Int): (DataFrame, Seq[(Long, Long)]) = {
    val spark = qs.sparkSession
    import spark.implicits._
    val batch = qs.as[(Long, Seq[Long])].collect().toSeq
    val cents = centroids.as[(Long, Seq[Long])].collect().toSeq
    val pairs = for {
      (qid, q) <- batch
      (_, label) <- cents.map { case (l, c) =>
        (q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, l)
      }.sorted.take(nProbe)
    } yield (qid, label)
    (batch.toDF("query_id", "q"), pairs)
  }

  /** The `rows` (id, cluster_id, …) of the probed clusters fanned out
    * to the queries probing them, each query's own id left out. The
    * scan filter is the literal union `cluster_id IN (...)`: on a
    * cluster-partitioned store it prunes at file listing. */
  private def probed(rows: DataFrame, pairs: Seq[(Long, Long)]): DataFrame =
    rows.filter(col("cluster_id").isin(pairs.map(_._2).distinct: _*))
      .join(pairFrame(rows.sparkSession, pairs), Seq("cluster_id"))
      .filter(col("id") =!= col("query_id"))

  private def pairFrame(spark: SparkSession,
      pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    broadcast(pairs.toDF("query_id", "cluster_id"))
  }

  /** Product quantization (PQ / ADC), the memory-compression path of
    * ANN (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011, is the construction; the arithmetic
    * discipline is this repo's). Each vector is stored as m codes, one
    * per disjoint subspace — at m=8, k=16 a 64-dim vector is 8 nibbles,
    * a 64x compression: `codes` (id, sub, code) against per-subspace
    * codebooks `books` (sub, clabel, qc), built over the slice table
    * `cache` the build persisted. Same determinism contract as
    * [[trainCentroids]] (seed codewords are the first k vectors'
    * slices, floor-mean updates, smallest-label ties), so train →
    * encode → score is integer-exact and a SQL oracle replays it. A
    * query batch builds one broadcast Q×m×k lookup table of partial
    * dots and codeword norms, codes join it on (sub, code), and one
    * (query, id)-keyed aggregate folds the m partials into the
    * approximate cosine dot(q, v̂) / (|q|·|v̂|): one pass over the codes
    * for the whole batch, never reading the stored vectors. */
  final case class PqModel(books: DataFrame, codes: DataFrame, m: Int,
      dims: Int, cache: DataFrame, idCol: String, embCol: String)
      extends AnnModel {
    def score(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
      val qs = queries(emb, queryIds)
      codes
        .join(queryLut(books, qs, m, dims), Seq("sub", "code"))
        .filter(col("id") =!= col("query_id"))
        .groupBy("query_id", "id")
        .agg(sum("pd").as("dot"), sum("pn").as("rn2"))
        .join(queryNorms(qs), Seq("query_id"))
        .select(col("query_id"), col("id").as("vec_id"),
          (col("dot").cast("double") /
            sqrt(col("rn2").cast("double") * col("qn2").cast("double")))
            .as("score"))
    }
    override def release(): Unit = { cache.unpersist(); () }
  }

  /** Build a [[PqModel]]: slice, train `iters` Lloyd rounds of `k`
    * codewords per subspace, encode. */
  def pqBuild(emb: DataFrame, m: Int = 8, dims: Int = 64, k: Int = 16,
      iters: Int = 2, idCol: String = "vec_id",
      embCol: String = "embedding"): PqModel = {
    val (cache, books, codes) =
      trainAndEncode(quantized(emb, idCol, embCol), m, dims, k, iters)
    PqModel(books, codes, m, dims, cache, idCol, embCol)
  }

  /** IVF-PQ, the IVFADC construction of Jégou et al. (TPAMI 2011): an
    * [[IvfModel]]'s coarse `centroids` (clabel, qc) partition the
    * corpus, and one set of PQ codebooks `books` (sub, clabel, qc),
    * trained over ALL residuals r = q - c pooled, codes every vector as
    * `codes` (id, cluster_id, sub, code). Residuals are smaller than
    * raw vectors, so the same codebook budget quantizes them finer;
    * exact long subtraction keeps the pipeline integer-deterministic.
    * At scale `codes` is written PARTITIONED BY cluster_id; the other
    * two are bounded model state, and (m, dims) travel with the model
    * so a serve slices query vectors as the build did.
    *
    * A query reads only the codes of its `nProbe` nearest centroids.
    * With v̂ = c + r̂ the approximate cosine needs three code-keyed
    * partials per subspace — pd = q_s·r̂_s, crs = c_s·r̂_s,
    * pn = |r̂_s|² — from two broadcast LUTs keyed (query_id, sub, code)
    * and (cluster_id, sub, code), plus two per-(query, cluster)
    * scalars cdot = q·c and cn2 = |c|²: dot(q, v̂) = cdot + Σpd and
    * |v̂|² = cn2 + 2Σcrs + Σpn, all exact integers until the final
    * one-division cosine. */
  final case class IvfPqModel(centroids: DataFrame, books: DataFrame,
      codes: DataFrame, m: Int, dims: Int, nProbe: Int, cache: DataFrame,
      idCol: String, embCol: String) extends AnnModel {
    def score(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
      val (qs, pairs) = probe(queries(emb, queryIds), centroids, nProbe)
      val probedCents = centroids
        .filter(col("clabel").isin(pairs.map(_._2).distinct: _*))
      val csl = subspaceSlices(
          probedCents.select(col("clabel").as("id"), col("qc").as("q")),
          m, dims)
        .select(col("id").as("cluster_id"), col("sub"), col("qs").as("cs"))
      val cLut = broadcast(books.join(csl, Seq("sub"))
        .select(col("cluster_id"), col("sub"), col("clabel").as("code"),
          qdot(col("cs"), col("qc")).as("crs")))
      val coarse = broadcast(pairFrame(emb.sparkSession, pairs)
        .join(probedCents.withColumnRenamed("clabel", "cluster_id"),
          Seq("cluster_id"))
        .join(qs.withColumnRenamed("q", "qq"), Seq("query_id"))
        .select(col("query_id"), col("cluster_id"),
          qdot(col("qq"), col("qc")).as("cdot"),
          qnorm2(col("qc")).as("cn2")))
      probed(codes, pairs)
        .join(queryLut(books, qs, m, dims), Seq("query_id", "sub", "code"))
        .join(cLut, Seq("cluster_id", "sub", "code"))
        .groupBy("query_id", "id", "cluster_id")
        .agg(sum("pd").as("rdot"), sum("crs").as("crs"), sum("pn").as("rn2p"))
        .join(coarse, Seq("query_id", "cluster_id"))
        .join(queryNorms(qs), Seq("query_id"))
        .select(col("query_id"), col("id").as("vec_id"), col("cluster_id"),
          ((col("cdot") + col("rdot")).cast("double") /
            sqrt((col("cn2") + lit(2L) * col("crs") + col("rn2p"))
              .cast("double") * col("qn2").cast("double"))).as("score"))
    }
    override def release(): Unit = { cache.unpersist(); () }
  }

  /** Build an [[IvfPqModel]]: the [[ivfBuild]] steps, exact long
    * residuals, then the [[pqBuild]] steps over the residuals with
    * `cluster_id` carried. */
  def ivfPqBuild(emb: DataFrame,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 2,
      m: Int = 16, dims: Int = 64, k: Int = 64, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): IvfPqModel = {
    // quantized corpus feeds EVERY Lloyd round of the coarse training
    // AND the assignment pass — persisted so the parquet scan + quantize
    // runs once, not kmeansIters+1 times
    val e = quantized(emb, idCol, embCol).persist()
    val ivf = ivfTrain(e, nCentroids, nProbe, kmeansIters, idCol, embCol)
    val (cache, books, codes) = trainAndEncode(
      residuals(ivf.assign, ivf.centroids), m, dims, k, iters,
      extraCols = Seq("cluster_id"))
    // the train rounds materialized the slice cache, so everything
    // downstream (the encode pass, every serve call) reads it — the
    // quantized corpus frame is no longer reachable
    e.unpersist()
    IvfPqModel(ivf.centroids, books, codes, m, dims, nProbe, cache,
      idCol, embCol)
  }

  /** Incremental index maintenance: encode NEW vectors into an existing
    * [[IvfPqModel]] without retraining — assign each to its nearest
    * coarse centroid, residual-encode with the FROZEN codebooks, return
    * code rows with the same schema as `model.codes` (append them to
    * the cluster-partitioned store, or union for an in-memory model).
    * This is how a production ANN index absorbs a stream of fresh
    * embeddings: encoding a batch costs two broadcast joins and zero
    * shuffles of the existing corpus; retraining happens only when
    * drift accumulates. Deterministic: re-adding the build corpus
    * reproduces `model.codes` exactly (spec-pinned).
    *
    * PRECONDITION when unioning the result with `model.codes` (or a
    * store read) for serving: ids must be DISJOINT from the build
    * corpus — an id present in both contributes two encodings, which
    * double-counts ADC partial sums in the same cluster or returns the
    * id twice from different clusters. For re-emitted ids (recomputed
    * embeddings) resolve newest-wins across the boundary with
    * [[graft.streaming.AnnStream.mergedCodes]]; `readCodes`' own
    * newest-wins covers only rows WITHIN the stream store. */
  def ivfPqAdd(model: IvfPqModel, newEmb: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = newEmb.sparkSession
    import spark.implicits._
    val e = quantized(newEmb, idCol, embCol)
    val resid = residuals(assignTo(e, model.centroids), model.centroids)
    encodeSlices(subspaceSlices(resid, model.m, model.dims,
        extraCols = Seq("cluster_id")),
      model.books.as[(Long, Long, Seq[Long])].collect().toSeq).drop("qs")
  }

  /** Residual per vector, r = q - c by exact long subtraction, as
    * (id, cluster_id, q) — `r` keeps the name `q` so the slice/train
    * machinery applies. */
  private def residuals(assign: DataFrame, cents: DataFrame): DataFrame =
    assign
      .join(broadcast(cents.withColumnRenamed("clabel", "cluster_id")),
        Seq("cluster_id"))
      .select(col("id"), col("cluster_id"),
        zip_with(col("q"), col("qc"), (a, b) => a - b).as("q"))

  /** The one slice → persist → train → encode step of [[pqBuild]] and
    * [[ivfPqBuild]]. The slice table feeds the `iters` train rounds AND
    * the encode pass, so it is persisted: the scan+explode chain runs
    * once, not 1+iters times (n·m short rows). Returns (the persisted
    * slice table — the model's `cache`, the codebook frame, the lazy
    * codes (id, extra…, sub, code)). */
  private def trainAndEncode(e: DataFrame, m: Int, dims: Int, k: Int,
      iters: Int, extraCols: Seq[String] = Nil)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = e.sparkSession
    import spark.implicits._
    val s = subspaceSlices(e, m, dims, extraCols).persist()
    val books = trainOnSlicesLocal(s, k, iters)
    (s, books.toDF("sub", "clabel", "qc"), encodeSlices(s, books).drop("qs"))
  }

  /** The per-query ADC lookup table, broadcast — Q×m×k rows, the whole
    * per-batch model: (query_id, sub, code) → pd = q_s·c, pn = |c|². */
  private def queryLut(books: DataFrame, qs: DataFrame, m: Int,
      dims: Int): DataFrame = {
    val qsl = subspaceSlices(
        qs.select(col("query_id").as("id"), col("q")), m, dims)
      .select(col("id").as("query_id"), col("sub"), col("qs").as("qq"))
    broadcast(books.join(qsl, Seq("sub"))
      .select(col("query_id"), col("sub"), col("clabel").as("code"),
        qdot(col("qq"), col("qc")).as("pd"),
        qnorm2(col("qc")).as("pn")))
  }

  private def queryNorms(qs: DataFrame): DataFrame =
    broadcast(qs.select(col("query_id"), qnorm2(col("q")).as("qn2")))

  /** The m disjoint slices of each quantized vector: (id[, extra...],
    * sub, qs). `extraCols` ride along unchanged (IVF-PQ keeps
    * `cluster_id` on every slice so the codes stay cluster-addressable). */
  private def subspaceSlices(e: DataFrame, m: Int, dims: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"subspaceSlices: dims ($dims) must divide into m ($m) subspaces")
    val d = dims / m
    val keep = col("id") +: extraCols.map(col)
    e.select(keep :+ explode(array((0 until m).map { sb =>
        struct(lit(sb.toLong).as("sub"),
          slice(col("q"), sb * d + 1, d).as("qs"))
      }: _*)).as("__s"): _*)
      .select(keep ++ Seq(col("__s.sub").as("sub"),
        col("__s.qs").as("qs")): _*)
  }

  /** Nearest codeword per (vector, subspace) against a DRIVER-LOCAL
    * codebook, added as `code` — one [[graft.functions.NearestCode]]
    * projection: the codebook (bounded model state, m·k·(dims/m) longs)
    * rides the plan as a literal, so encoding is map-only codegen with
    * no k× row blowup through a join+aggregate (the measured hotspot of
    * every Lloyd round and every encode pass at k=64). */
  private def encodeSlices(s: DataFrame,
      books: Seq[(Long, Long, Seq[Long])]): DataFrame =
    s.withColumn("code", graft.functions.NearestCode(col("qs"), col("sub"),
      books).getField("assigned"))

  /** Per-subspace Lloyd rounds over an (id, sub, qs[, extra…]) slice
    * table, all m subspaces in ONE sub-keyed job per round (not m
    * jobs). Returns the DRIVER-LOCAL codebook (m·k rows, bounded model
    * state — it crosses to the driver between rounds anyway); each
    * round's assignment is one [[encodeSlices]] map-only pass. */
  private def trainOnSlicesLocal(s: DataFrame, k: Int,
      iters: Int): Seq[(Long, Long, Seq[Long])] = {
    val spark = s.sparkSession
    import spark.implicits._
    var books: Seq[(Long, Long, Seq[Long])] = s.filter(col("id") < k)
      .select(col("sub"), col("id").cast("long").as("clabel"),
        col("qs").as("qc"))
      .as[(Long, Long, Seq[Long])].collect().toSeq
      .sortBy(t => (t._1, t._2))
    for (_ <- 1 to iters)
      books = floorMeans(encodeSlices(s, books)
          .select(col("sub"), col("code").as("clabel"), col("qs")),
          Seq("sub", "clabel"), "qs")
        .as[(Long, Long, Seq[Long])].collect().toSeq
        .sortBy(t => (t._1, t._2))
    books
  }
}
