package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = graft.Tables.embeddings(spark, sfDir)

  test("annTopK returns k rows, scores in [-1,1], sorted desc") {
    val rows = Similarity.topK(Similarity.exactIndex(emb), emb, 0L, 10)
      .as[(Long, Double)].collect()
    assert(rows.length == 10)
    assert(rows.forall { case (_, s) => s >= -1.0 && s <= 1.0 })
    assert(rows.map(_._2).sliding(2).forall(w => w(0) >= w(1)))
    assert(!rows.exists(_._1 == 0L))
  }

  test("quantized cosine tracks float cosine within 1e-4") {
    val exact = emb.filter(col("vec_id").isin(0L, 1L))
      .select("embedding").as[Seq[Float]].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    val want = cos(exact(0), exact(1))
    val got = emb.filter(col("vec_id") === 0L)
      .select(Similarity.quantize(col("embedding")).as("qa"))
      .crossJoin(emb.filter(col("vec_id") === 1L)
        .select(Similarity.quantize(col("embedding")).as("qb")))
      .select(Similarity.cosineQ(col("qa"), col("qb")))
      .as[Double].collect()(0)
    assert(math.abs(want - got) < 1e-4, s"want $want got $got")
  }

  test("banded pairs are a subset of brute-force pairs with decent recall") {
    val brute = Similarity.bruteForcePairs(emb, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Similarity.bandedPairs(emb, 0.3, bands = 4, rowsPerBand = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(brute), "banded must be exact on surviving pairs")
    assert(brute.nonEmpty)
    val recall = banded.size.toDouble / brute.size
    assert(recall > 0.01, s"recall $recall (banded ${banded.size} of ${brute.size})")
  }

  test("trained-IVF recall@10 >= 0.9 vs exact annTopK") {
    // k-means-trained centroids + 4/16 probes must recover (nearly) the
    // exact top-10 — the recall yardstick the IVF pruning is graded on
    val exact = Similarity.topK(Similarity.exactIndex(emb), emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.topK(Similarity.ivfBuild(emb,
        nCentroids = 16, nProbe = 4, kmeansIters = 2), emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 = $recall (ivf=$ivf exact=$exact)")
  }

  test("PQ: with every vector a codeword the ADC scores are EXACTLY " +
    "the brute-force cosines") {
    // k = n with per-subspace-distinct slices: every slice is its own
    // nearest seed (d2 = 0), one Lloyd round averages each singleton
    // cluster back to itself, encoding is the identity, and ADC
    // reconstruction degrades to exact cosine. (i mod 13 spacing makes
    // all 12 slices distinct in every subspace.)
    val vecs = (0L until 12L).map { i =>
      (i, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 8f))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.topK(Similarity.exactIndex(vecs), vecs, 0L, 11)
      .select("vec_id", "score").as[(Long, Double)].collect().toSet
    val pq = Similarity.topK(Similarity.pqBuild(vecs, m = 8, dims = 64,
        k = 12, iters = 1), vecs, 0L, 11)
      .as[(Long, Double)].collect().toSet
    assert(pq == exact, s"pq=$pq exact=$exact")
  }

  test("PQ recall@10 >= 0.7 at m=32, k=64; deterministic under " +
    "repartitioning at the query geometry") {
    // recall is corpus-dependent: the sf0.001 spec corpus needs finer
    // subspaces than sf0.01 (measured: (16,64) gives 0.4 here but 0.8
    // at sf0.01 — the geometry the ann_pq_topk query runs; (32,64)
    // gives 0.8 on both). Lossy by construction; the floor pins that
    // the codebooks actually carry signal, not a luck draw.
    val exact = Similarity.topK(Similarity.exactIndex(emb), emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val pq = Similarity.topK(Similarity.pqBuild(emb, m = 32, k = 64), emb,
        0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@10 = $recall (pq=$pq exact=$exact)")
    // determinism under repartitioning, at the query's geometry
    val a = Similarity.topK(Similarity.pqBuild(emb, m = 16, k = 64), emb,
        0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val b = Similarity.topK(Similarity.pqBuild(emb.repartition(7),
        m = 16, k = 64), emb.repartition(7), 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(a == b, "PQ ranking must be partition-independent")
  }

  test("k-means training moves centroids and keeps k stable on fixture") {
    val e = emb.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("q"))
    val seeds = e.filter(col("id") < 16)
      .select(col("id").as("clabel"), col("q").as("qc"))
      .as[(Long, Seq[Long])].collect().toMap
    val trained = Similarity.trainCentroids(e, nCentroids = 16, iters = 2)
      .as[(Long, Seq[Long])].collect().toMap
    assert(trained.nonEmpty && trained.size <= 16)
    // at least one centroid must have moved off its seed vector —
    // otherwise "training" degenerated to the old id<16 hack
    assert(trained.exists { case (l, qc) => seeds.get(l).exists(_ != qc) },
      "Lloyd iterations left every centroid exactly on its seed")
  }

  test("brute-force baselines refuse oversized inputs with a loud guard") {
    val ex = intercept[IllegalArgumentException] {
      Similarity.bruteForcePairs(emb, 0.3, maxRows = 5)
    }
    assert(ex.getMessage.contains("bandedPairs"),
      s"guard must name the scale path: ${ex.getMessage}")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.exactIndex(emb, maxRows = 5)
    }
    assert(ex2.getMessage.contains("ivfBuild"),
      s"guard must name the scale path: ${ex2.getMessage}")
  }

  test("banded recall near 1 for high-cosine planted pairs") {
    // plant: vector 9000 = tiny perturbation of vector 0 (cos ~ 1)
    val v0 = emb.filter(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].collect()(0)
    val planted = (v0.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.001f else x }, 9000L)
    val df = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((planted._2, planted._1)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")))
    val pairs = Similarity.bandedPairs(df, 0.99, bands = 4, rowsPerBand = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 9000L)), s"high-cos pair must survive banding: $pairs")
  }

  test("SimilarityProfile.derive: recall floor holds by construction, " +
    "background separation is enforced, ties are total") {
    val prof = SimilarityProfile.derive(kBits = 64,
      thresholdPermil = 900, backgroundPermil = 500)
    // the derived geometry's own S-curve IS the recall floor
    assert(DedupProfile.collisionProb(0.9, prof.bands,
      prof.bitsPerBand) >= 0.9, prof.toString)
    assert(DedupProfile.collisionProb(0.5, prof.bands,
      prof.bitsPerBand) <= 0.05, prof.toString)
    assert(prof.bands * prof.bitsPerBand <= 64)
    // on background 500 within 64 bits this derivation is unique:
    // bits=10 is the only width meeting recall (11+ under-recalls at
    // any band count within the budget), bands=6 the only count
    assert((prof.bands, prof.bitsPerBand) == ((6, 10)), prof.toString)
    // inseparable: background at/above threshold must be rejected
    intercept[IllegalArgumentException] {
      SimilarityProfile.derive(64, 900, 900)
    }
    // impossible targets must fail loudly, not silently under-recall
    intercept[IllegalArgumentException] {
      SimilarityProfile.derive(4, 900, 890)
    }
  }

  test("derivedSamplePpm keeps the quadratic probe bounded at ANY " +
    "corpus size: per-million rate tracks the target where the old " +
    "per-mille rate floored, and the hash-ordered cap bounds the " +
    "sample absolutely once even the ppm floor binds") {
    assert(Similarity.derivedSamplePpm(50) == 1000000L) // small: take all
    assert(Similarity.derivedSamplePpm(500) == 200000L)
    assert(Similarity.derivedSamplePpm(5000) == 20000L) // == the old rule
    assert(Similarity.derivedSamplePpm(100000) == 1000L)
    // the r12 ADVICE case: past target*1000 docs the per-MILLE rate
    // floored at 1/1000 and the sample grew as total/1000; per-million
    // still tracks the ~100-doc target here
    assert(Similarity.derivedSamplePpm(100000000) == 1L)
    assert(Similarity.derivedSamplePpm(Long.MaxValue / 2) == 1L) // floor
    assert(Similarity.derivedSamplePpm(0) == 1000000L) // degenerate
    // a frame 40x past the old two-point rule's threshold: the derived
    // rate lands the sample near the 100 target, inside maxSampleDocs
    val big = spark.range(40000).selectExpr("id AS vec_id",
      "transform(sequence(0, 7), i -> CASE WHEN (id + i) % 3 = 0 " +
        "THEN -0.5D ELSE 0.5D END) AS embedding")
    val p = Similarity.derivedSamplePpm(40000)
    assert(p == 2500L)
    val stats = Similarity.sampleSignAgreeStats(big, samplePpm = p)
    assert(stats.nVecs >= 2 && stats.nVecs <= 2000, stats.toString)
    // floor-bound simulation: rate 1000000 (everything passes the rate
    // gate, as when the 1-ppm floor binds on a huge corpus) — the
    // deterministic cap holds the probe at maxSampleDocs instead of
    // aborting, and the capped set is partition-independent
    val capped = Similarity.sampleSignAgreeStats(big,
      samplePpm = 1000000L, maxSampleDocs = 50)
    assert(capped.nVecs == 50 && capped.nPairs == 50L * 49 / 2,
      capped.toString)
    val cappedRepart = Similarity.sampleSignAgreeStats(
      big.repartition(7), samplePpm = 1000000L, maxSampleDocs = 50)
    assert(cappedRepart == capped)
  }

  test("sampleSignAgreeStats + bandedPairsAgree: measured quantiles " +
    "are exact, sign-identical plants always collide (empirical " +
    "recall 1 at agreement 1000)") {
    // 4 vectors, 64 dims: a and b sign-identical (agree 1000), c flips
    // 32 of a's signs (agree 500), d flips every sign (agree 0 vs a)
    def vec(f: Int => Double): Seq[Double] = (0 until 64).map(f)
    val a = vec(_ => 0.5)
    val b = vec(i => if (i % 2 == 0) 0.9 else 0.1) // same signs as a
    val c = vec(i => if (i < 32) -0.5 else 0.5)
    val d = vec(_ => -0.5)
    val df = Seq((0L, a), (1L, b), (2L, c), (3L, d))
      .toDF("vec_id", "embedding")
    val stats = Similarity.sampleSignAgreeStats(df, samplePpm = 1000000L)
    assert(stats.nVecs == 4 && stats.nPairs == 6)
    // pairs: ab=1000, ac=500, ad=0, bc=500, bd=0, cd=500
    // sorted: 0,0,500,500,500,1000 -> p50 idx=min(5,3-1)=2 -> 500
    assert(stats.p50Permil == 500L, stats.toString)
    assert(stats.p95Permil == 1000L && stats.maxPermil == 1000L,
      stats.toString)
    val prof = SimilarityProfile.derive(64, 900, stats.p50Permil)
    val got = Similarity.bandedPairsAgree(df, prof)
      .select("id_a", "id_b", "agree_permil")
      .as[(Long, Long, Long)].collect().toSet
    // the sign-identical pair collides in EVERY band and survives the
    // 900 re-rank; nothing else reaches 900
    assert(got == Set((0L, 1L, 1000L)), got.toString)
  }

  test("semanticDedup: pairs are same-cluster brute-force pairs; " +
    "survivors + dropped partition the corpus") {
    val brute = Similarity.bruteForcePairs(emb, 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairs = Similarity.semanticDedupPairs(emb, 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(brute),
      s"semantic pairs must be exact pairs too: ${pairs.diff(brute).take(3)}")
    val survivors = Similarity.semanticDedupSurvivors(emb, 0.35)
      .select("id").as[Long].collect().toSet
    val dropped = pairs.map(_._2)
    val all = emb.select("vec_id").as[Long].collect().toSet
    assert(survivors.intersect(dropped).isEmpty)
    assert(survivors ++ dropped == all)
    // every dropped id has a surviving-or-dropped LOWER id witness
    assert(dropped.forall(d => pairs.exists { case (a, b) => b == d && a < d }))
  }

  test("semanticDedup drops an exact planted duplicate (same cluster, cos 1)") {
    val v0 = emb.filter(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].collect()(0)
    val df = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((9000L, v0)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")))
    val survivors = Similarity.semanticDedupSurvivors(df, 0.99)
      .select("id").as[Long].collect().toSet
    assert(survivors.contains(0L) && !survivors.contains(9000L),
      "identical vector lands in the same cluster and must be dropped")
  }

  test("meanPool: per-dimension floor(mean) of quantized values, " +
    "FLOOR semantics on negative halves (not truncation)") {
    val df = Seq(
      (0L, Array(0.000001f, -0.000001f)),
      (2L, Array(0.000002f, -0.000002f)),
      (1L, Array(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
      .withColumn("grp", col("vec_id") % 2)
    val got = Similarity.meanPool(df, "grp")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // 1e-6f is NOT exactly 1e-6 (nearest float is 9.9999997e-7), so the
    // quantized values are floor-asymmetric: q(±1e-6f) = 0 / -1,
    // q(±2e-6f) = 1 / -2
    // grp 0: sums (0+1, -1-2) over 2 vecs: floor(0.5)=0, floor(-1.5)=-2
    assert(got((0L, 0L)) == 0L, got.toString)
    assert(got((0L, 1L)) == -2L, "floor(-1.5) must be -2, not -1")
    // grp 1: single vector passes through
    assert(got((1L, 0L)) == 1000000L && got((1L, 1L)) == 500000L)
  }

  /** The serve contract of every trained model: a one-query
    * `topKMulti` batch reproduces `topK` exactly, and one build serves
    * successive batches with only the serve-side pass. */
  private def checkServe(model: Similarity.AnnModel, tag: String): Unit = {
    val single = Similarity.topK(model, emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val multi = Similarity.topKMulti(model, emb, Seq(0L), 10)
      .orderBy("rn").select("vec_id").as[Long].collect().toSeq
    assert(multi == single, s"multi=$multi single=$single")
    // one build, second batch: per-query marginal is the serve-side
    // pass, not training. A wall-clock ratio here would race with CPU
    // steal on a shared box (the Bench comment documents exactly that
    // failure mode) — count Spark JOBS instead: serving Q queries is
    // one probe-collect plus one action regardless of Q, while a
    // rebuild-per-query regression would add the Lloyd/collect job
    // train per extra query. Deterministic under load.
    def jobs(n: String)(f: => Unit): Int = {
      val group = s"$tag-serve-jobs-$n"
      spark.sparkContext.setJobGroup(group, group)
      try f finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val j1 = jobs("one")(Similarity.topKMulti(model, emb, Seq(1L), 5)
      .write.format("noop").mode("overwrite").save())
    val j4 = jobs("four")(Similarity.topKMulti(model, emb,
        Seq(2L, 3L, 4L, 5L), 5)
      .write.format("noop").mode("overwrite").save())
    assert(j4 <= j1 + 2,
      s"4-query serve launched $j4 jobs vs $j1 for 1 query — batch size " +
        "must not multiply the job count (training is paid at build)")
  }

  test("pqTopKMulti: a one-query batch reproduces pqTopK exactly " +
    "(same codebooks, same integer ADC fold)") {
    checkServe(Similarity.pqBuild(emb, m = 16, k = 64), "pq")
    spark.catalog.clearCache()
  }

  test("ivfPqTopKMulti: a one-query batch reproduces ivfPqTopK exactly, " +
    "and one build serves successive batches with only the ADC fold") {
    val model = Similarity.ivfPqBuild(emb)
    model.codes.persist(); model.codes.count()
    checkServe(model, "ivfpq")
    spark.catalog.clearCache()
  }

  test("IVF serve: a one-query topKMulti batch reproduces topK exactly, " +
    "and one build serves successive batches with only the probed scan") {
    checkServe(Similarity.ivfBuild(emb), "ivf")
  }

  // every trained model releases what its build persisted: the flag
  // says whether the build persists anything (IVF persists nothing, so
  // its check is that serving it leaves nothing behind either)
  Seq[(String, Boolean, () => Similarity.AnnModel)](
    ("IVF", false, () => Similarity.ivfBuild(emb)),
    ("PQ", true, () => Similarity.pqBuild(emb, m = 16, k = 64)),
    ("IVF-PQ", true, () => Similarity.ivfPqBuild(emb))
  ).foreach { case (name, persists, build) =>
    test(s"$name model: release() after serving leaves no cache entry " +
      "and no new persistent RDD, without clearCache()") {
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val model = build()
      Similarity.topKMulti(model, emb, Seq(0L, 1L), 5)
        .write.format("noop").mode("overwrite").save()
      assert(spark.sharedState.cacheManager.isEmpty != persists,
        s"$name build expected to persist: $persists")
      model.release()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name release() must drop every cache entry its build made")
      // RDDs persistent before the build may be dropped meanwhile by the
      // ContextCleaner; what must not exist is one the build added
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"$name release() left persistent RDDs $left")
    }
  }

  test("Similarity has one top-k serve path: no def other than topK / " +
    "topKMulti is named *TopK or *TopKMulti") {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(sys.props("user.dir"), "src", "main", "scala",
      "graft", "ext", "Similarity.scala")
    val text = new String(Files.readAllBytes(src), "UTF-8")
    val topKDefs = """\bdef\s+(\w+)""".r.findAllMatchIn(text)
      .map(_.group(1))
      .filter(n => n.endsWith("TopK") || n.endsWith("TopKMulti") ||
        n == "topK" || n == "topKMulti")
      .toSet
    assert(topKDefs == Set("topK", "topKMulti"),
      s"top-k siblings are back in $src: ${topKDefs -- Set("topK", "topKMulti")}")
  }

  test("ivfPqAdd: new vectors encode against the frozen model — " +
    "re-adding the build corpus reproduces its codes, and a grown index " +
    "serves the added vectors") {
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val model = Similarity.ivfPqBuild(even)
    // determinism: the add path IS the build's encode path
    val readd = Similarity.ivfPqAdd(model, even)
      .orderBy("id", "sub").collect().toSeq
    val built = model.codes.orderBy("id", "sub").collect().toSeq
    assert(readd == built,
      "re-encoding the build corpus must reproduce the built codes")
    // grow the index with the odd half; a query must now retrieve odd
    // neighbours it could not before
    val grown = model.copy(
      codes = model.codes.unionByName(Similarity.ivfPqAdd(model, odd)))
    val gotGrown = Similarity
      .topKMulti(grown.copy(nProbe = 16), emb, Seq(0L), 10)
      .select("vec_id").as[Long].collect().toSet
    val gotOld = Similarity
      .topKMulti(model.copy(nProbe = 16), emb, Seq(0L), 10)
      .select("vec_id").as[Long].collect().toSet
    assert(gotOld.forall(_ % 2 == 0), "old index knows only even vectors")
    assert(gotGrown.exists(_ % 2 == 1),
      s"grown index must surface added odd vectors in top-10: $gotGrown")
    spark.catalog.clearCache()
  }

  test("IVF-PQ encode is a MAP-ONLY projection over the cached slice " +
    "table: zero shuffle exchanges (the plan-embedded-codebook contract)") {
    val model = Similarity.ivfPqBuild(emb)
    assert(model.codes.count() > 0)
    // nearest_code carries the codebook as a literal reference object,
    // so nothing between the slice cache and the code rows may exchange
    // — the join-shaped assignment this replaced exploded k candidate
    // rows per slice through an aggregate
    val nShuffles = graft.ops.PlanChecks.shuffleExchanges(model.codes)
    assert(nShuffles == 0,
      s"encode must be map-only, found $nShuffles exchanges:\n" +
        s"${model.codes.queryExecution.executedPlan}")
    spark.catalog.clearCache()
  }

  test("IVF-PQ model store: codes written PARTITIONED BY cluster_id " +
    "prune to the probed partitions at serve — measured at file listing") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val model = Similarity.ivfPqBuild(emb)
    val dir = specTempDir("ivfpq-store")
      .resolve("codes").toString
    model.codes.write.partitionBy("cluster_id").parquet(dir)
    // explicit schema keeps cluster_id LongType (inference would int-ify
    // the partition dir values) and the build's column order
    val stored = spark.read.schema(model.codes.schema).parquet(dir)
    val nParts = spark.read.parquet(dir)
      .select("cluster_id").distinct().count()
    val fromStore = Similarity
      .topKMulti(model.copy(codes = stored, nProbe = 4), emb, Seq(0L), 10)
    val got = fromStore.orderBy("rn")
      .select("vec_id").as[Long].collect().toSeq
    val mem = Similarity.topKMulti(model.copy(nProbe = 4), emb, Seq(0L), 10)
      .orderBy("rn").select("vec_id").as[Long].collect().toSeq
    assert(got == mem, s"store serve must equal in-memory serve: $got / $mem")
    // the serve plan's literal IN predicate IS partition pruning here:
    // the store scan lists only the probed clusters' directories
    val plan = fromStore.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectLeaves().collectFirst {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(dir))
        => s
    }.getOrElse(fail(s"no FileSourceScanExec over $dir in plan"))
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead <= 4L,
      s"serve must list only the <=4 probed partitions of $nParts, " +
        s"read $partsRead")
    assert(nParts > 4L,
      s"sanity: the store must have more partitions ($nParts) than probes")
    spark.catalog.clearCache()
  }

  test("IVF-PQ: coarse pruning + residual ADC — recall vs exact, " +
    "partition-independence, and the cluster_id scan filter") {
    val exact = Similarity.topK(Similarity.exactIndex(emb), emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val df = Similarity.topK(Similarity.ivfPqBuild(emb), emb, 0L, 10)
    val got = df.select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    // measured 0.8 on this corpus at the DEFAULT m=16 geometry — the
    // same geometry where flat pqTopK measures 0.4 here (see the PQ
    // recall test above): residuals are smaller than raw vectors, so
    // the identical codebook budget quantizes them finer, and that
    // gain survives scanning only nProbe/nCentroids = 4/16 of the codes
    assert(recall >= 0.7, s"recall@10 = $recall (got=$got exact=$exact)")
    // determinism under repartitioning
    val b = Similarity.topK(Similarity.ivfPqBuild(emb.repartition(7)),
        emb.repartition(7), 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(got == b, "IVF-PQ ranking must be partition-independent")
    // plan contract: the code-table side is filtered by a LITERAL
    // cluster_id IN (...) predicate — the pushable shape that prunes a
    // cluster-partitioned store at file listing — and nothing cartesian
    graft.ops.PlanChecks.assertNoCartesian(df)
    val plan = graft.ops.PlanChecks.executedPlan(df)
    assert(plan.linesIterator.exists(l =>
        l.contains("cluster_id") && l.contains(" IN (")),
      s"code scan must carry a literal cluster_id IN filter\n$plan")
    spark.catalog.clearCache()
  }

  test("cache hygiene: pqTopK's persisted slice table is caller-owned " +
    "and clearCache() (the Bench/Verify contract) drops it") {
    val r = Similarity.topK(Similarity.pqBuild(emb, m = 16, k = 64), emb,
      0L, 5)
    r.write.format("noop").mode("overwrite").save()
    // the slice table is legitimately cached while the query lives...
    assert(!spark.sharedState.cacheManager.isEmpty,
      "pqTopK is expected to persist its slice table")
    // ...and the harness loop's clearCache leaves NOTHING resident —
    // the assertion behind "no cached tables survive a query's action"
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty,
      "clearCache must leave no cached tables between harness queries")
  }
}
