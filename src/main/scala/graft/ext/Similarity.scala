package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *  - [[annTopK]]: brute-force top-k for one query vector — a single
  *    narrow map + TakeOrdered; at 100 TB this is the per-query scan you
  *    accept, or the re-rank stage after [[lshBands]] pre-filtering.
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
    val n = emb.count()
    require(n <= maxRows,
      s"$op is a differential BASELINE limited to maxRows=$maxRows input " +
        s"vectors (got $n). At scale use $alternative instead, or raise " +
        "maxRows explicitly if you accept the full cost.")
  }

  /** Brute-force top-k nearest neighbours of one stored vector.
    * Quantization+norm are per-row projections (computed once per input
    * row, under the join); only the codegen'd dot runs per pair. The
    * top-k is a TakeOrdered — no global sort materialization. Guarded:
    * this is the exact full-scan baseline — [[ivfTopK]] is the scale
    * path that scans only the probed clusters. */
  def annTopK(
      emb: DataFrame, queryVecId: Long, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxRows: Long = 10000000L): DataFrame = {
    guardBaseline(emb, maxRows, "annTopK (full-scan exact baseline)",
      "ivfTopK (probes nProbe/nCentroids of the data)")
    val q = emb.filter(col(idCol) === queryVecId)
      .select(quantize(col(embCol)).as("qq"))
      .withColumn("qn2", qnorm2(col("qq")))
    emb.filter(col(idCol) =!= queryVecId)
      .select(col(idCol), quantize(col(embCol)).as("qe"))
      .withColumn("en2", qnorm2(col("qe")))
      .crossJoin(broadcast(q))
      .select(col(idCol),
        (qdot(col("qe"), col("qq")).cast("double") /
          sqrt(col("en2").cast("double") * col("qn2").cast("double")))
          .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
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

  /** Centroids of quantized vectors grouped by an existing `assigned`
    * label column: (clabel, qc array<long>), qc_d = floor(Σ q_d / n).
    * Exactness of the floor: see [[labelCentroids]]. Clusters that lost
    * all members simply disappear (k shrinks) — deterministic in any
    * engine, no RNG re-seeding. */
  private def recomputeCentroids(assigned: DataFrame, qCol: String,
      labelCol: String): DataFrame =
    assigned
      .select(col(labelCol).as("clabel"), posexplode(col(qCol)))
      .groupBy("clabel", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .withColumn("c",
        floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("qc"))

  /** Lloyd-iteration k-means over quantized vectors `e(id, q)`, fully
    * deterministic so a SQL oracle can replay it:
    *  - seeds = the first `nCentroids` vectors by id (no RNG);
    *  - assignment = exact integer squared distance, ties to the
    *    smallest centroid label ([[assignNearest]]);
    *  - update = floor(mean) per dim — exact integers (see
    *    [[labelCentroids]] for the floor-exactness argument).
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
      val next = recomputeCentroids(assigned, "q", "assigned")
        .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
      cents = next.toDF("clabel", "qc")
    }
    cents
  }

  /** IVF-style partitioned ANN: k-means-trained centroids
    * ([[trainCentroids]] — deterministic seeds + `kmeansIters` Lloyd
    * rounds), every vector assigned to its nearest centroid by exact
    * integer squared distance, the query probes its `nProbe` closest
    * centroids, and only those clusters are scanned with the exact
    * cosine re-rank. At scale the assignment is a write-time partition
    * key => a top-k query scans nProbe/nCentroids of the data instead
    * of all of it, and trained (not arbitrary) centroids are what keep
    * recall high under that pruning. */
  def ivfTopK(
      emb: DataFrame, queryVecId: Long, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
    val cents = trainCentroids(e, nCentroids, kmeansIters)
    val assign = assignNearest(e.select("id", "q"), "q", cents)
      .select(col("id"), col("q"), col("assigned").as("cluster_id"))
    val cn = cents.withColumn("__cn2", qnorm2(col("qc")))
    val q = e.filter(col("id") === queryVecId)
      .withColumn("__vn2", qnorm2(col("q")))
    val probes = q.crossJoin(broadcast(cn))
      .select(col("clabel").as("cluster_id"),
        (col("__vn2") + col("__cn2") - lit(2L) * qdot(col("q"), col("qc")))
          .as("__d2"))
      .orderBy(col("__d2"), col("cluster_id"))
      .limit(nProbe)
      .select("cluster_id")
    val qv = q.select(col("q").as("qq"), col("__vn2").as("qn2"))
    assign
      .join(broadcast(probes), Seq("cluster_id"))
      .filter(col("id") =!= queryVecId)
      .crossJoin(broadcast(qv))
      .select(col("id"), col("cluster_id"),
        (qdot(col("q"), col("qq")).cast("double") /
          sqrt(qnorm2(col("q")).cast("double") * col("qn2").cast("double")))
          .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Per-label centroids of quantized vectors: (clabel, qc array<long>),
    * qc_d = floor(Σ qv_d / n). The floor of the double division is exact
    * here: when n divides S the quotient is an integer < 2^53; when it
    * doesn't, the true value sits >= 1/n away from any integer, far
    * beyond double rounding error — so both engines floor identically.
    * Integer centroids keep every later distance computation exact. */
  def labelCentroids(emb: DataFrame, labelCol: String,
      embCol: String): DataFrame = {
    val exploded = emb.select(col(labelCol).as("clabel"),
        posexplode(quantize(col(embCol))))
      .withColumnsRenamed(Map("pos" -> "d", "col" -> "qv"))
    exploded.groupBy("clabel", "d")
      .agg(sum("qv").as("s"), count(lit(1)).as("n"))
      .withColumn("c",
        floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("qc"))
  }

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

  /** Multi-query IVF: the amortization argument for training — centroids
    * are trained ONCE, every query probes its own `nProbe` clusters, and
    * the per-query scan cost is nProbe/nCentroids of the corpus. Query
    * vectors ride in one broadcast; per-query ranking is a window keyed
    * on query id (high-cardinality at real QPS — scale-safe). Returns
    * (query_id, id, score, rn) for rn <= k. */
  def ivfTopKMulti(
      emb: DataFrame, queryIds: Seq[Long], k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryIds.nonEmpty, "ivfTopKMulti: at least one query id")
    val e = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
    val cents = trainCentroids(e, nCentroids, kmeansIters)
    val assign = assignNearest(e.select("id", "q"), "q", cents)
      .select(col("id"), col("q"), col("assigned").as("cluster_id"))
    val cn = cents.withColumn("__cn2", qnorm2(col("qc")))
    val qs = e.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("q").as("qq"))
      .withColumn("qn2", qnorm2(col("qq")))
    val byQuery = Window.partitionBy("query_id")
    val probes = qs.crossJoin(broadcast(cn))
      .select(col("query_id"),
        col("clabel").as("cluster_id"),
        (qnorm2(col("qq")) + col("__cn2") - lit(2L) * qdot(col("qq"), col("qc")))
          .as("__d2"))
      .withColumn("rn", row_number().over(
        byQuery.orderBy(col("__d2"), col("cluster_id"))))
      .filter(col("rn") <= nProbe)
      .select("query_id", "cluster_id")
    assign
      .join(broadcast(probes), Seq("cluster_id"))
      .join(broadcast(qs), Seq("query_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (qdot(col("q"), col("qq")).cast("double") /
          sqrt(qnorm2(col("q")).cast("double") * col("qn2").cast("double")))
          .as("score"))
      .withColumn("rn", row_number().over(
        byQuery.orderBy(col("score").desc, col("id"))))
      .filter(col("rn") <= k)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means the embedding space ([[trainCentroids]] — deterministic
    * Lloyd rounds), then compare pairs ONLY within a cluster; any vector
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
    val assign = clusterAssign(emb, nCentroids, kmeansIters, idCol, embCol)
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
    pairsWithinClusters(
      clusterAssign(emb, nCentroids, kmeansIters, idCol, embCol), threshold)

  /** Train + assign: every vector to its nearest trained centroid.
    * Returns (id, q, cluster_id). */
  private def clusterAssign(emb: DataFrame, nCentroids: Int,
      kmeansIters: Int, idCol: String, embCol: String): DataFrame = {
    val e = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
    val cents = trainCentroids(e, nCentroids, kmeansIters)
    assignNearest(e.select("id", "q"), "q", cents)
      .select(col("id"), col("q"), col("assigned").as("cluster_id"))
  }

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

  // -------- Product quantization (PQ / ADC) --------
  //
  // The memory-compression path of ANN: each vector is stored as m
  // small codes (one per disjoint subspace) instead of `dims` floats —
  // at m=8, k=16 a 64-dim vector is 8 nibbles, a 64x compression — and
  // queries score against codebook reconstructions through an m×k
  // lookup table (asymmetric distance computation), never touching the
  // raw vectors. Same determinism contract as [[trainCentroids]]: seed
  // codewords are the first k vectors' slices, Lloyd updates are
  // floor-means, assignment ties break to the smallest codeword label —
  // so the whole train → encode → score pipeline is integer-exact and a
  // SQL oracle replays it (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011, is the construction; the
  // arithmetic discipline is this repo's).

  /** The m disjoint slices of each quantized vector: (id[, extra...],
    * sub, qs). `extraCols` ride along unchanged (the IVF-PQ path keeps
    * `cluster_id` on every slice so the encoded codes stay
    * cluster-addressable). */
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
    * codebook — one [[graft.functions.NearestCode]] projection: the
    * codebook (bounded model state, m·k·(dims/m) longs) rides the plan
    * as a literal, so encoding is map-only codegen with no k× row
    * blowup through a join+aggregate (the measured hotspot of every
    * Lloyd round and every encode pass at k=64). `keyCols` are carried
    * through to the output (the IVF-PQ path adds `cluster_id`). */
  private def encodeSlices(s: DataFrame,
      books: Seq[(Long, Long, Seq[Long])],
      keyCols: Seq[String] = Seq("id", "sub", "qs")): DataFrame =
    s.withColumn("__best",
        graft.functions.NearestCode(col("qs"), col("sub"), books))
      .select(keyCols.map(col) :+ col("__best.assigned").as("code"): _*)

  /** Collect a `(sub, clabel, qc)` codebook frame to the driver — the
    * bounded-model boundary every serve/encode call crosses once. */
  private def collectBooks(books: DataFrame): Seq[(Long, Long, Seq[Long])] = {
    val spark = books.sparkSession
    import spark.implicits._
    books.select(col("sub"), col("clabel"), col("qc"))
      .as[(Long, Long, Seq[Long])].collect().toSeq
  }

  /** Per-subspace codebooks via deterministic Lloyd rounds, all m
    * subspaces trained in ONE sub-keyed job per round (not m jobs).
    * Only the m×k×(dims/m) = k×dims model crosses to the driver between
    * rounds. Returns (sub, clabel, qc). */
  def pqTrain(e: DataFrame, m: Int = 8, dims: Int = 64, k: Int = 16,
      iters: Int = 2): DataFrame =
    trainOnSlices(subspaceSlices(e, m, dims), k, iters)

  /** Lloyd rounds over an (id, sub, qs) slice table — split out so
    * [[pqTopK]] can persist ONE slice table across the train rounds AND
    * the encode pass instead of recomputing scan+explode per pass.
    * Returns the DRIVER-LOCAL codebook (m·k rows, bounded model state —
    * it crosses to the driver between rounds anyway); each round's
    * assignment is one [[encodeSlices]] map-only pass. */
  private def trainOnSlicesLocal(s: DataFrame, k: Int,
      iters: Int): Seq[(Long, Long, Seq[Long])] = {
    val spark = s.sparkSession
    import spark.implicits._
    var books: Seq[(Long, Long, Seq[Long])] = s.filter(col("id") < k)
      .select(col("sub"), col("id").cast("long").as("clabel"),
        col("qs").as("qc"))
      .as[(Long, Long, Seq[Long])].collect().toSeq
      .sortBy(t => (t._1, t._2))
    for (_ <- 1 to iters) {
      val a = encodeSlices(s, books)
      val next = a
        .select(col("sub"), col("code").as("clabel"), posexplode(col("qs")))
        .groupBy("sub", "clabel", "pos")
        .agg(sum("col").as("sv"), count(lit(1)).as("n"))
        .withColumn("c",
          floor(col("sv").cast("double") / col("n")).cast("long"))
        .groupBy("sub", "clabel")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("qc"))
        .as[(Long, Long, Seq[Long])].collect().toSeq
        .sortBy(t => (t._1, t._2))
      books = next
    }
    books
  }

  /** A driver-local codebook as a `(sub, clabel, qc)` frame, for the
    * serve paths that join it into broadcast LUTs. */
  private def booksToDF(spark: SparkSession,
      books: Seq[(Long, Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    books.toDF("sub", "clabel", "qc")
  }

  /** [[trainOnSlicesLocal]] as a frame (see [[booksToDF]]). */
  private def trainOnSlices(s: DataFrame, k: Int, iters: Int): DataFrame =
    booksToDF(s.sparkSession, trainOnSlicesLocal(s, k, iters))

  /** ADC top-k: the query builds an m×k lookup table of per-subspace
    * partial dots and codeword norms against the codebooks (broadcast —
    * it IS the whole model), codes join it keyed on (sub, code), and
    * one id-keyed aggregate folds the m partials into the approximate
    * cosine dot(q, reconstruct(v)) / (|q|·|reconstruct(v)|). The stored
    * vectors are never read at query time — the PQ promise.
    *
    * Cache lifetime: the internal slice table is persist()ed (it feeds
    * 2·iters train jobs plus the encode pass) and CANNOT be unpersisted
    * here — the returned frame is lazy and still reads it. The CALLER
    * owns the entry: run your action, then `spark.catalog.clearCache()`
    * (what Bench/Verify do between queries) or keep it hot for repeat
    * queries — that is the useful case, since the codes it feeds are
    * exactly what a vector store keeps resident. */
  def pqTopK(emb: DataFrame, queryVecId: Long, topK: Int,
      m: Int = 8, dims: Int = 64, k: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
    // one slice table feeds the iters train passes AND the encode pass —
    // persisted so the scan+explode chain runs once, not 1+iters
    // times (n·m short rows: negligible memory, large plan-depth win)
    val s = subspaceSlices(e, m, dims).persist()
    val booksLocal = trainOnSlicesLocal(s, k, iters)
    val books = booksToDF(emb.sparkSession, booksLocal)
    val codes = encodeSlices(s, booksLocal).select("id", "sub", "code")
    val qs = subspaceSlices(e.filter(col("id") === queryVecId), m, dims)
      .select(col("sub"), col("qs").as("qq"))
    val lut = broadcast(books.join(qs, Seq("sub"))
      .select(col("sub"), col("clabel").as("code"),
        qdot(col("qq"), col("qc")).as("pd"),
        qnorm2(col("qc")).as("pn")))
    val qn2 = e.filter(col("id") === queryVecId)
      .select(qnorm2(col("q")).as("qn2"))
    codes.filter(col("id") =!= queryVecId)
      .join(lut, Seq("sub", "code"))
      .groupBy("id")
      .agg(sum("pd").as("dot"), sum("pn").as("rn2"))
      .crossJoin(broadcast(qn2))
      .select(col("id").as("vec_id"),
        (col("dot").cast("double") /
          sqrt(col("rn2").cast("double") * col("qn2").cast("double")))
          .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(topK)
  }

  /** Multi-query PQ — the amortization twin of [[ivfTopKMulti]] for the
    * compression path: codebooks are trained ONCE, the corpus is
    * encoded ONCE, and a whole batch of queries rides one broadcast
    * Q×m×k lookup table through a single pass over the code table
    * (one keyed aggregate, one query-keyed rank window — never Q
    * separate scans). That single-pass batching is the PQ serving
    * shape at scale: the per-query marginal cost is the ADC fold, not
    * training, encoding, or an extra corpus read. Cache lifetime of
    * the internal slice table is caller-owned (see [[pqTopK]]).
    * Returns (query_id, vec_id, score, rn) for rn <= topK. */
  def pqTopKMulti(emb: DataFrame, queryIds: Seq[Long], topK: Int,
      m: Int = 8, dims: Int = 64, k: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryIds.nonEmpty, "pqTopKMulti: at least one query id")
    val e = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
    val s = subspaceSlices(e, m, dims).persist()
    val booksLocal = trainOnSlicesLocal(s, k, iters)
    val books = booksToDF(emb.sparkSession, booksLocal)
    val codes = encodeSlices(s, booksLocal).select("id", "sub", "code")
    val qs = subspaceSlices(e.filter(col("id").isin(queryIds: _*)), m, dims)
      .select(col("id").as("query_id"), col("sub"), col("qs").as("qq"))
    val lut = broadcast(books.join(qs, Seq("sub"))
      .select(col("query_id"), col("sub"), col("clabel").as("code"),
        qdot(col("qq"), col("qc")).as("pd"),
        qnorm2(col("qc")).as("pn")))
    val qn = broadcast(e.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), qnorm2(col("q")).as("qn2")))
    val byQuery = Window.partitionBy("query_id")
    codes
      .join(lut, Seq("sub", "code"))
      .filter(col("id") =!= col("query_id"))
      .groupBy("query_id", "id")
      .agg(sum("pd").as("dot"), sum("pn").as("rn2"))
      .join(qn, Seq("query_id"))
      .select(col("query_id"), col("id").as("vec_id"),
        (col("dot").cast("double") /
          sqrt(col("rn2").cast("double") * col("qn2").cast("double")))
          .as("score"))
      .withColumn("rn", row_number().over(
        byQuery.orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rn") <= topK)
  }

  /** IVF-PQ composed ANN (the IVFADC construction of Jégou et al.,
    * TPAMI 2011): the scale path that [[ivfTopK]] and [[pqTopK]] each
    * carry one half of —
    *
    *  1. COARSE: k-means centroids ([[trainCentroids]]) partition the
    *     corpus; every vector is assigned to its nearest centroid and
    *     its RESIDUAL `r = q - c` is what gets product-quantized
    *     (residuals are smaller than raw vectors, so the same codebook
    *     budget quantizes them finer — the reason IVFADC encodes
    *     residuals, not vectors; exact long subtraction keeps the whole
    *     pipeline integer-deterministic);
    *  2. FINE: one set of per-subspace codebooks is trained over ALL
    *     residuals pooled ([[pqTrain]] discipline: deterministic seeds,
    *     floor-mean Lloyd updates, smallest-label ties) and every
    *     vector stores m codes — at scale this codes table is written
    *     PARTITIONED BY `cluster_id`;
    *  3. QUERY: the query probes its `nProbe` nearest coarse centroids
    *     — the probe list is collected to the driver (nProbe longs, the
    *     same bounded-model discipline as the centroids themselves) and
    *     applied as a LITERAL `cluster_id IN (...)` predicate, so
    *     against a cluster-partitioned store it prunes at file listing
    *     and the ADC scan reads nProbe/nCentroids of the codes instead
    *     of all of them (the flat-scan gap of [[pqTopK]], closed);
    *  4. ADC: scores fold from a broadcast nProbe×m×k lookup table.
    *     With v̂ = c + r̂ the approximate cosine needs three code-keyed
    *     partials per subspace — pd = q_s·r̂_s, crs = c_s·r̂_s,
    *     pn = |r̂_s|² — plus two per-cluster scalars cdot = q·c,
    *     cn2 = |c|²: dot(q,v̂) = cdot + Σpd and |v̂|² = cn2 + 2Σcrs + Σpn,
    *     all exact integers until the final one-division cosine.
    *
    * Returns (vec_id, cluster_id, score) top-`topK`. Thin wrapper:
    * [[ivfPqBuild]] once, [[ivfPqTopKMulti]] with a one-query batch. */
  def ivfPqTopK(emb: DataFrame, queryVecId: Long, topK: Int,
      nCentroids: Int = 16, nProbe: Int = 4, kmeansIters: Int = 2,
      m: Int = 16, dims: Int = 64, k: Int = 64, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val model = ivfPqBuild(emb, nCentroids, kmeansIters, m, dims, k, iters,
      idCol, embCol)
    ivfPqTopKMulti(model, emb, Seq(queryVecId), topK, nProbe, idCol, embCol)
      .select(col("vec_id"), col("cluster_id"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(topK)
  }

  /** A built IVF-PQ index, the cacheable/writable artifact the serve
    * path scores against: coarse `centroids` (clabel, qc), pooled
    * residual `books` (sub, clabel, qc), and the coded corpus `codes`
    * (id, cluster_id, sub, code). At scale `codes` is written
    * PARTITIONED BY cluster_id, so a serve call's literal
    * `cluster_id IN (probes)` predicate prunes at file listing; the
    * other two are bounded model state (nCentroids and m×k rows). The
    * geometry (m, dims) travels with the model so serve calls slice
    * query vectors identically to the build. */
  final case class IvfPqModel(
      centroids: DataFrame, books: DataFrame, codes: DataFrame,
      m: Int, dims: Int)

  /** Build phase of [[ivfPqTopK]] (steps 1-2 of the IVFADC scaladoc):
    * coarse k-means, exact long residuals r = q - c, pooled residual
    * codebooks, per-vector codes. Everything downstream of this is
    * query serving — train once, serve any number of batches. */
  def ivfPqBuild(emb: DataFrame,
      nCentroids: Int = 16, kmeansIters: Int = 2,
      m: Int = 16, dims: Int = 64, k: Int = 64, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): IvfPqModel = {
    // quantized corpus feeds EVERY Lloyd round of the coarse training
    // AND the assignment pass — persisted so the parquet scan + quantize
    // runs once, not kmeansIters+1 times (the same silent-multi-scan
    // pattern as the slice table below)
    val e = emb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
      .persist()
    val cents = trainCentroids(e, nCentroids, kmeansIters)
    val assign = assignNearest(e.select("id", "q"), "q", cents)
      .select(col("id"), col("q"), col("assigned").as("cluster_id"))
    // residual per vector: r = q - c, exact long subtraction (the frame
    // renames r back to "q" so the shared slice/train machinery applies)
    val resid = assign
      .join(broadcast(cents.withColumnRenamed("clabel", "cluster_id")),
        Seq("cluster_id"))
      .select(col("id"), col("cluster_id"),
        zip_with(col("q"), col("qc"), (a, b) => a - b).as("q"))
    // one persisted slice table feeds the train rounds AND the encode
    // pass (same caller-owned cache lifetime as pqTopK)
    val s = subspaceSlices(resid, m, dims, extraCols = Seq("cluster_id"))
      .persist()
    val booksLocal = trainOnSlicesLocal(s, k, iters)
    // the train rounds materialized `s`, so everything downstream (the
    // encode pass, every serve call) reads the slice cache — the
    // quantized corpus frame is no longer reachable
    e.unpersist()
    val codes = encodeSlices(s, booksLocal,
        keyCols = Seq("id", "cluster_id", "sub", "qs"))
      .select("id", "cluster_id", "sub", "code")
    IvfPqModel(cents, booksToDF(emb.sparkSession, booksLocal), codes,
      m, dims)
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
    val e = newEmb.select(col(idCol).as("id"), quantize(col(embCol)).as("q"))
    val assign = assignNearest(e.select("id", "q"), "q", model.centroids)
      .select(col("id"), col("q"), col("assigned").as("cluster_id"))
    val resid = assign
      .join(broadcast(model.centroids.withColumnRenamed("clabel", "cluster_id")),
        Seq("cluster_id"))
      .select(col("id"), col("cluster_id"),
        zip_with(col("q"), col("qc"), (a, b) => a - b).as("q"))
    val s = subspaceSlices(resid, model.m, model.dims,
        extraCols = Seq("cluster_id"))
    encodeSlices(s, collectBooks(model.books),
        keyCols = Seq("id", "cluster_id", "sub", "qs"))
      .select("id", "cluster_id", "sub", "code")
  }

  /** Serve phase: score a whole batch of queries against a built
    * [[IvfPqModel]] in ONE pass over the (probe-pruned) code table —
    * the IVFADC twin of [[pqTopKMulti]]'s amortization. Each query
    * probes its own `nProbe` coarse clusters; the probe pairs are
    * collected (Q×nProbe rows, bounded query-plan state) so the scan
    * filter is the literal union `cluster_id IN (...)` — pushable
    * partition pruning on a cluster-partitioned store — and the
    * per-query probe membership rides a broadcast (query_id,
    * cluster_id) fan-out join. ADC partials come from two broadcast
    * LUTs: (query_id, sub, code) → pd, pn and (cluster_id, sub, code)
    * → crs — identical integer folds to the single-query path, so a
    * one-query batch reproduces [[ivfPqTopK]] bit for bit. The
    * per-query marginal cost is the ADC fold over the probed codes;
    * training, encoding, and the corpus pass are paid once per batch.
    * Returns (query_id, vec_id, cluster_id, score, rn), rn <= topK. */
  def ivfPqTopKMulti(model: IvfPqModel, emb: DataFrame,
      queryIds: Seq[Long], topK: Int, nProbe: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryIds.nonEmpty, "ivfPqTopKMulti: at least one query id")
    val spark = emb.sparkSession
    val m = model.m
    val dims = model.dims
    val qRows = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), quantize(col(embCol)).as("q"))
    // per-query probe lists in ONE collect: Q×nProbe (query, cluster)
    // pairs — the same bounded-model discipline as the centroids
    val probePairs: Seq[(Long, Long)] = qRows
      .crossJoin(broadcast(model.centroids))
      .select(col("query_id"), col("clabel"),
        (qnorm2(col("q")) + qnorm2(col("qc"))
          - lit(2L) * qdot(col("q"), col("qc"))).as("__d2"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__d2"), col("clabel"))))
      .filter(col("__rn") <= nProbe)
      .select("query_id", "clabel")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    val allProbeIds = probePairs.map(_._2).distinct
    val probed = {
      import spark.implicits._
      broadcast(probePairs.toDF("query_id", "cluster_id"))
    }
    val probedCents = model.centroids.filter(col("clabel").isin(allProbeIds: _*))
    val qsl = subspaceSlices(
        qRows.select(col("query_id").as("id"), col("q")), m, dims)
      .select(col("id").as("query_id"), col("sub"), col("qs").as("qq"))
    val csl = subspaceSlices(
        probedCents.select(col("clabel").as("id"), col("qc").as("q")),
        m, dims)
      .select(col("id").as("cluster_id"), col("sub"), col("qs").as("cs"))
    // Q×m×k and nProbe'×m×k LUTs — the whole per-batch model, broadcast
    val qLut = broadcast(model.books.join(qsl, Seq("sub"))
      .select(col("query_id"), col("sub"), col("clabel").as("code"),
        qdot(col("qq"), col("qc")).as("pd"),
        qnorm2(col("qc")).as("pn")))
    val cLut = broadcast(model.books.join(csl, Seq("sub"))
      .select(col("cluster_id"), col("sub"), col("clabel").as("code"),
        qdot(col("cs"), col("qc")).as("crs")))
    val coarse = broadcast(probed
      .join(probedCents.withColumnRenamed("clabel", "cluster_id"),
        Seq("cluster_id"))
      .join(qRows.select(col("query_id"), col("q").as("qq")),
        Seq("query_id"))
      .select(col("query_id"), col("cluster_id"),
        qdot(col("qq"), col("qc")).as("cdot"),
        qnorm2(col("qc")).as("cn2")))
    val qn2 = broadcast(qRows.select(col("query_id"),
      qnorm2(col("q")).as("qn2")))
    model.codes
      // THE pruning: a literal predicate on the storage partition key —
      // only the union of probed clusters survives the scan
      .filter(col("cluster_id").isin(allProbeIds: _*))
      // fan each surviving code row out to exactly the queries probing
      // its cluster (broadcast Q×nProbe pairs)
      .join(probed, Seq("cluster_id"))
      .filter(col("id") =!= col("query_id"))
      .join(qLut, Seq("query_id", "sub", "code"))
      .join(cLut, Seq("cluster_id", "sub", "code"))
      .groupBy("query_id", "id", "cluster_id")
      .agg(sum("pd").as("rdot"), sum("crs").as("crs"), sum("pn").as("rn2p"))
      .join(coarse, Seq("query_id", "cluster_id"))
      .join(qn2, Seq("query_id"))
      .select(col("query_id"), col("id").as("vec_id"), col("cluster_id"),
        ((col("cdot") + col("rdot")).cast("double") /
          sqrt((col("cn2") + lit(2L) * col("crs") + col("rn2p"))
            .cast("double") * col("qn2").cast("double"))).as("score"))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rn") <= topK)
  }
}
