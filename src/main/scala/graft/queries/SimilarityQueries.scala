package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.Similarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search suite over `embeddings` (ARRAY<FLOAT>, 64 dims).
  * All cosine math is quantized-integer (see [[graft.ext.Similarity]]), so
  * the DuckDB oracles replay it bit-for-bit.
  */
object SimilarityQueries {

  /** DuckDB fragment: Similarity.quantize. The explicit DOUBLE cast
    * matters — FLOAT*INTEGER must not be evaluated in float precision. */
  private def sqlQ(embCol: String): String =
    s"list_transform($embCol, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  /** DuckDB fragment: Similarity.cosineQ over quantized list columns
    * (dimension-generic: iterates the common prefix like LongArrayDot). */
  private def sqlCosine(qa: String, qb: String): String =
    s"""CAST(list_sum(list_transform(range(1, least(len($qa), len($qb)) + 1),
       |       i -> $qa[i] * $qb[i])) AS DOUBLE)
       | / sqrt(CAST(list_sum(list_transform($qa, x -> x * x)) AS DOUBLE)
       |        * CAST(list_sum(list_transform($qb, x -> x * x)) AS DOUBLE))""".stripMargin

  /** DuckDB fragment: TextAnalysis.tokenHash31. */
  private def sqlH31(t: String): String = OracleSql.h31(t)

  /** DuckDB fragment: Similarity.signBandKeys band b (8 sign bits). */
  private def sqlBand(b: Int, rowsPerBand: Int = 8): String =
    (0 until rowsPerBand).foldLeft(s"${b}::BIGINT") { (acc, r) =>
      s"(($acc) * 2 + (CASE WHEN q[${b * rowsPerBand + r + 1}] >= 0 THEN 1 ELSE 0 END))"
    }

  /** DuckDB fragment: exact integer squared distance Σ(q_i - c_i)² —
    * mirrors |v|² + |c|² - 2·v·c computed by Similarity.assignNearest. */
  private def sqlD2(q: String, c: String): String =
    s"""list_sum(list_transform(range(1, len($q) + 1),
       |      i -> ($q[i] - $c[i]) * ($q[i] - $c[i])))""".stripMargin

  /** One deterministic Lloyd round as CTEs: assign `e` to `cin`, emit
    * assignment `a$t` and updated centroids `cout` (floor-mean). */
  private def sqlLloydRound(t: Int, cin: String, cout: String): String =
    s"""a$t AS (
       |  SELECT id, q, clabel FROM (
       |    SELECT e.id, e.q, c.clabel,
       |      ROW_NUMBER() OVER (PARTITION BY e.id
       |        ORDER BY ${sqlD2("e.q", "c.qc")}, c.clabel) AS rn
       |    FROM e, $cin c)
       |  WHERE rn = 1),
       |$cout AS (
       |  SELECT clabel, list(c ORDER BY d) AS qc FROM (
       |    SELECT clabel, d,
       |      CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       |    FROM (SELECT clabel, unnest(range(1, len(q) + 1)) AS d,
       |            unnest(q) AS v
       |          FROM a$t)
       |    GROUP BY clabel, d)
       |  GROUP BY clabel)""".stripMargin

  /** Shared CTE chain: quantized vectors `e`, seeds `c0` (ids < 16),
    * 2 Lloyd rounds to `c2`, final assignment `assign(id, q,
    * cluster_id)` — mirrors Similarity.trainCentroids + assignNearest
    * at the default (16 centroids, 2 iters). */
  private val sqlKmeansCtes: String =
    s"""e AS (
       |  SELECT vec_id AS id, ${sqlQ("embedding")} AS q FROM embeddings),
       |c0 AS (
       |  SELECT id AS clabel, q AS qc FROM e WHERE id < 16),
       |${sqlLloydRound(1, "c0", "c1")},
       |${sqlLloydRound(2, "c1", "c2")},
       |assign AS (
       |  SELECT id, q, clabel AS cluster_id FROM (
       |    SELECT e.id, e.q, c.clabel,
       |      ROW_NUMBER() OVER (PARTITION BY e.id
       |        ORDER BY ${sqlD2("e.q", "c.qc")}, c.clabel) AS rn
       |    FROM e, c2 c)
       |  WHERE rn = 1)""".stripMargin

  /** One deterministic sub-keyed PQ Lloyd round as CTEs, over a slice
    * table literally named `s` (id, sub, qs[, extras]): assign every
    * slice to its nearest codeword in `cin`, emit updated codebooks
    * `cout` (floor-mean per dim) — mirrors one round of
    * Similarity.trainOnSlicesLocal. Shared by ann_pq_topk (raw-vector
    * slices) and ann_ivfpq_topk (residual slices) — the Lloyd
    * discipline is identical, only the `s` CTE feeding it differs. */
  private def sqlPqRound(t: Int, cin: String, cout: String): String =
    s"""pa$t AS (
       |  SELECT id, sub, qs, clabel FROM (
       |    SELECT s.id, s.sub, s.qs, c.clabel,
       |      ROW_NUMBER() OVER (PARTITION BY s.id, s.sub
       |        ORDER BY ${sqlD2("s.qs", "c.qc")}, c.clabel) AS rn
       |    FROM s JOIN $cin c ON c.sub = s.sub)
       |  WHERE rn = 1),
       |$cout AS (
       |  SELECT sub, clabel, list(c ORDER BY d) AS qc FROM (
       |    SELECT sub, clabel, d,
       |      CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
       |    FROM (SELECT sub, clabel, unnest(range(1, len(qs) + 1)) AS d,
       |            unnest(qs) AS v
       |          FROM pa$t)
       |    GROUP BY sub, clabel, d)
       |  GROUP BY sub, clabel)""".stripMargin

  /** DuckDB oracle for the 4-query IVF-PQ batch — full replay of the
    * build (coarse Lloyd + residual codebooks + encode) and the
    * ADC serve. Shared verbatim by `ann_ivfpq_multi` (in-memory serve)
    * and `ann_ivfpq_store` (serve from a cluster-partitioned parquet
    * store): the storage round-trip is exact for integer codes, so both
    * queries hash identically against this one oracle. */
  private val sqlIvfPqMultiOracle: String =
    s"""WITH $sqlKmeansCtes,
         |resid AS (
         |  SELECT a.id, a.cluster_id,
         |    list_transform(range(1, len(a.q) + 1),
         |      i -> a.q[i] - c.qc[i]) AS r
         |  FROM assign a JOIN c2 c ON c.clabel = a.cluster_id),
         |s AS (
         |  SELECT id, cluster_id, sb.range AS sub,
         |    list_slice(r, sb.range * 4 + 1, (sb.range + 1) * 4) AS qs
         |  FROM resid, range(0, 16) sb),
         |pc0 AS (SELECT sub, id AS clabel, qs AS qc FROM s WHERE id < 64),
         |${sqlPqRound(1, "pc0", "pc1")},
         |${sqlPqRound(2, "pc1", "pc2")},
         |enc AS (
         |  SELECT id, cluster_id, sub, clabel AS code FROM (
         |    SELECT s.id, s.cluster_id, s.sub, c.clabel,
         |      ROW_NUMBER() OVER (PARTITION BY s.id, s.sub
         |        ORDER BY ${sqlD2("s.qs", "c.qc")}, c.clabel) AS rn
         |    FROM s JOIN pc2 c ON c.sub = s.sub)
         |  WHERE rn = 1),
         |qv AS (SELECT id AS query_id, q FROM e WHERE id < 4),
         |probes AS (
         |  SELECT query_id, clabel AS cluster_id FROM (
         |    SELECT qv.query_id, c.clabel,
         |      ROW_NUMBER() OVER (PARTITION BY qv.query_id
         |        ORDER BY ${sqlD2("qv.q", "c.qc")}, c.clabel) AS rn
         |    FROM c2 c, qv)
         |  WHERE rn <= 4),
         |qsl AS (
         |  SELECT qv.query_id, sb.range AS sub,
         |    list_slice(qv.q, sb.range * 4 + 1, (sb.range + 1) * 4) AS qq
         |  FROM qv, range(0, 16) sb),
         |csl AS (
         |  SELECT cluster_id, sb.range AS sub,
         |    list_slice(c.qc, sb.range * 4 + 1, (sb.range + 1) * 4) AS cs
         |  FROM (SELECT DISTINCT cluster_id FROM probes) p
         |    JOIN c2 c ON c.clabel = p.cluster_id, range(0, 16) sb),
         |qlut AS (
         |  SELECT q.query_id, b.sub, b.clabel AS code,
         |    CAST(list_sum(list_transform(range(1, len(b.qc) + 1),
         |      i -> q.qq[i] * b.qc[i])) AS BIGINT) AS pd,
         |    CAST(list_sum(list_transform(b.qc, x -> x * x)) AS BIGINT) AS pn
         |  FROM pc2 b JOIN qsl q ON q.sub = b.sub),
         |clut AS (
         |  SELECT csl.cluster_id, b.sub, b.clabel AS code,
         |    CAST(list_sum(list_transform(range(1, len(b.qc) + 1),
         |      i -> csl.cs[i] * b.qc[i])) AS BIGINT) AS crs
         |  FROM pc2 b JOIN csl ON csl.sub = b.sub),
         |coarse AS (
         |  SELECT p.query_id, p.cluster_id,
         |    CAST(list_sum(list_transform(range(1, len(c.qc) + 1),
         |      i -> qv.q[i] * c.qc[i])) AS BIGINT) AS cdot,
         |    CAST(list_sum(list_transform(c.qc, x -> x * x)) AS BIGINT) AS cn2
         |  FROM probes p JOIN c2 c ON c.clabel = p.cluster_id
         |    JOIN qv ON qv.query_id = p.query_id),
         |qn AS (
         |  SELECT query_id,
         |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qn2
         |  FROM qv),
         |sc AS (
         |  SELECT p.query_id, enc.id, enc.cluster_id,
         |    CAST(SUM(ql.pd) AS BIGINT) AS rdot,
         |    CAST(SUM(cl.crs) AS BIGINT) AS crs,
         |    CAST(SUM(ql.pn) AS BIGINT) AS rn2p
         |  FROM enc
         |    JOIN probes p ON p.cluster_id = enc.cluster_id
         |    JOIN qlut ql ON ql.query_id = p.query_id
         |      AND ql.sub = enc.sub AND ql.code = enc.code
         |    JOIN clut cl ON cl.cluster_id = enc.cluster_id
         |      AND cl.sub = enc.sub AND cl.code = enc.code
         |  WHERE enc.id <> p.query_id
         |  GROUP BY p.query_id, enc.id, enc.cluster_id),
         |scored AS (
         |  SELECT sc.query_id, sc.id AS vec_id, sc.cluster_id,
         |    CAST(co.cdot + sc.rdot AS DOUBLE)
         |      / sqrt(CAST(co.cn2 + 2 * sc.crs + sc.rn2p AS DOUBLE)
         |             * CAST(qn.qn2 AS DOUBLE)) AS score
         |  FROM sc JOIN coarse co ON co.query_id = sc.query_id
         |    AND co.cluster_id = sc.cluster_id
         |    JOIN qn ON qn.query_id = sc.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id, cluster_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY score DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, cluster_id, score, rn
         |FROM ranked WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // brute-force cosine top-k for one query vector
    QueryDef("ann_topk_bruteforce",
      s"""WITH q AS (
         |  SELECT ${sqlQ("embedding")} AS qq FROM embeddings WHERE vec_id = 0),
         |e AS (
         |  SELECT vec_id, ${sqlQ("embedding")} AS qe
         |  FROM embeddings WHERE vec_id <> 0)
         |SELECT vec_id, ${sqlCosine("qe", "qq")} AS score
         |FROM e, q
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topK(Similarity.exactIndex(emb), emb, queryId = 0L, k = 10)
    },

    // top-5 neighbours for each of the first 8 query vectors (broadcast
    // the query set; rank per query with a window)
    QueryDef("ann_topk_multi",
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, ${sqlQ("embedding")} AS qq
         |  FROM embeddings WHERE vec_id < 8),
         |e AS (
         |  SELECT vec_id, ${sqlQ("embedding")} AS qe FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, e.vec_id, ${sqlCosine("qe", "qq")} AS score
         |  FROM e, q WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY score DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, score, rn FROM ranked WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topKMulti(Similarity.exactIndex(emb), emb,
          queryIds = (0L until 8L).toSeq, k = 5)
        .orderBy("query_id", "rn")
    },

    // LSH-banded near-dup pairs: same-band candidates + exact re-rank —
    // the scale path (shuffle on band key, no n² cross join)
    QueryDef("sim_banded_pairs", {
      val bands = (0 until 4).map(b => s"${sqlBand(b)} AS band_$b").mkString(",\n    ")
      s"""WITH e AS (
         |  SELECT vec_id, ${sqlQ("embedding")} AS q FROM embeddings),
         |k AS (
         |  SELECT vec_id, q,
         |    $bands
         |  FROM e),
         |banded AS (
         |  SELECT vec_id, q, unnest([band_0, band_1, band_2, band_3]) AS band
         |  FROM k),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${sqlCosine("a.q", "b.q")} AS score
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, score FROM pairs WHERE score >= 0.3
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      Similarity.bandedPairs(Tables.embeddings(s, d), threshold = 0.3,
          bands = 4, rowsPerBand = 8)
        .orderBy("id_a", "id_b")
    },

    // PROFILE-GUIDED sign-LSH: the banded-embedding twin of
    // dedup_pipeline_derived. Geometry is MEASURED, not hand-tuned — a
    // hash-sampled pair probe yields the corpus's background
    // sign-agreement permil (~500 on isotropic fixtures), the S-curve
    // grid derives the (bands, bits) argmin under recall>=0.9 at
    // agreement 900 / background<=0.05, and the derived bands drive
    // candidate generation with an exact integral agreement re-rank.
    // Near-dups are PLANTED in-plan (vec_id%19<2 mirrors a ±0.5 sign
    // pattern keyed by parity: same-parity pairs agree 1000 permil and
    // MUST collide — sign-identical vectors share every band — while
    // cross-parity mirrors agree ~700 and real pairs top out ~765, so
    // the 900 filter isolates exactly the planted set). The oracle
    // replays the sample, both quantiles' index arithmetic, the
    // power-fold S-curve grid, the argmin tie order, variable-geometry
    // band keys, and the re-rank — a drift anywhere hash-mismatches.
    QueryDef("sim_banded_derived", {
      def pw(x: String, n: String) =
        s"list_reduce(list_prepend(1.0::DOUBLE, list_transform(range($n)," +
          s" __i -> ($x))), (__a, __b) -> __a * __b)"
      val agree = (a: String, b: String) =>
        s"(1000 * len(list_filter(range(1, 65), " +
          s"i -> ($a.q[i] >= 0) = ($b.q[i] >= 0)))) // 64"
      s"""WITH tot AS (SELECT COUNT(*) AS n FROM embeddings),
         |pm AS (SELECT least(1000000, greatest(1,
         |         (100 * 1000000) // greatest(n, 1))) AS pm
         |       FROM tot),
         |src AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 19 < 2 THEN
         |      list_transform(range(0, 64), i ->
         |        CASE WHEN (i + vec_id % 2) % 7 = 0 THEN -0.5
         |        ELSE 0.5 END)
         |    ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END
         |      AS emb
         |  FROM embeddings),
         |e AS (SELECT vec_id, ${sqlQ("emb")} AS q FROM src),
         |samp AS (
         |  SELECT vec_id, q FROM e, pm
         |  WHERE ${sqlH31("vec_id::VARCHAR")} % 1000000 < pm.pm
         |  ORDER BY ${sqlH31("vec_id::VARCHAR")}, vec_id LIMIT 2000),
         |sn AS (SELECT COUNT(*)::BIGINT AS nv FROM samp),
         |sp AS (
         |  SELECT ${agree("a", "b")} AS ap
         |  FROM samp a JOIN samp b ON a.vec_id < b.vec_id),
         |spx AS (SELECT ap, row_number() OVER (ORDER BY ap) AS rn
         |        FROM sp),
         |st AS (SELECT nv, nv * (nv - 1) // 2 AS np FROM sn),
         |bg AS (
         |  SELECT (SELECT ap FROM spx
         |          WHERE rn = least(np - 1, (np + 1) // 2 - 1) + 1)
         |    AS bgp
         |  FROM st),
         |grid AS (
         |  SELECT tb.range AS b, tr.range AS r
         |  FROM range(1, 65) tr, range(1, 65) tb
         |  WHERE tb.range * tr.range <= 64),
         |probs AS (
         |  SELECT b, r,
         |    1.0 - ${pw(s"1.0 - ${pw("0.9::DOUBLE", "r")}", "b")} AS prt,
         |    1.0 - ${pw(s"1.0 - ${pw("(bg.bgp / 1000.0)", "r")}", "b")}
         |      AS prb
         |  FROM grid, bg),
         |pick AS (
         |  SELECT b, r FROM probs WHERE prt >= 0.9 AND prb <= 0.05
         |  ORDER BY prb, b, r LIMIT 1),
         |banded AS (
         |  SELECT vec_id, q, unnest(list_transform(range(pk.b), __bi ->
         |    list_reduce(
         |      list_prepend(__bi::BIGINT,
         |        list_transform(
         |          list_slice(q, __bi * pk.r + 1, (__bi + 1) * pk.r),
         |          x -> CASE WHEN x >= 0 THEN 1::BIGINT
         |               ELSE 0::BIGINT END)),
         |      (__a, __x) -> __a * 2 + __x))) AS band
         |  FROM e, pick pk),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${agree("a", "b")} AS agree_permil
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, CAST(agree_permil AS BIGINT) AS agree_permil,
         |  CAST(pk.b AS BIGINT) AS bands, CAST(pk.r AS BIGINT)
         |    AS bits_per_band
         |FROM cand, pick pk
         |WHERE agree_permil >= 900
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // count-derived PPM sample rate (targets ~100 sampled vectors at
      // ANY SF; the hash-ordered cap inside the probe is the absolute
      // backstop once the rate floor binds)
      val ppm = Similarity.derivedSamplePpm(emb.count())
      val par = col("vec_id") % 2
      val planted = transform(sequence(lit(0), lit(63)),
        i => when((i + par) % 7 === 0, lit(-0.5d)).otherwise(lit(0.5d)))
      val src = emb.select(col("vec_id"),
        when(col("vec_id") % 19 < 2, planted)
          .otherwise(transform(col("embedding"), x => x.cast("double")))
          .as("embedding"))
      val stats = Similarity.sampleSignAgreeStats(src,
        samplePpm = ppm)
      val prof = graft.ext.SimilarityProfile.derive(kBits = 64,
        thresholdPermil = 900, backgroundPermil = stats.p50Permil,
        minRecall = 0.9, maxBackground = 0.05)
      Similarity.bandedPairsAgree(src, prof)
        .withColumn("bands", lit(prof.bands.toLong))
        .withColumn("bits_per_band", lit(prof.bitsPerBand.toLong))
        .orderBy("id_a", "id_b")
    },

    // kNN GRAPH construction from banded candidates: symmetric edges,
    // per-source top-3 neighbours — the building block of graph-based
    // dedup/clustering over embeddings; candidates come from the LSH
    // bands (no n² cross join), ranking is a per-source window (high-
    // cardinality partition key, scale-safe)
    QueryDef("sim_knn_graph", {
      val bands = (0 until 4).map(b => s"${sqlBand(b)} AS band_$b").mkString(",\n    ")
      s"""WITH e AS (
         |  SELECT vec_id, ${sqlQ("embedding")} AS q FROM embeddings),
         |k AS (
         |  SELECT vec_id, q,
         |    $bands
         |  FROM e),
         |banded AS (
         |  SELECT vec_id, q, unnest([band_0, band_1, band_2, band_3]) AS band
         |  FROM k),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${sqlCosine("a.q", "b.q")} AS score
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.vec_id < b.vec_id),
         |kept AS (SELECT id_a, id_b, score FROM pairs WHERE score >= 0.2),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst, score FROM kept
         |  UNION ALL SELECT id_b, id_a, score FROM kept),
         |ranked AS (
         |  SELECT src, dst, score,
         |    ROW_NUMBER() OVER (PARTITION BY src
         |                       ORDER BY score DESC, dst) AS rn
         |  FROM edges)
         |SELECT src, dst, score, rn FROM ranked WHERE rn <= 3
         |ORDER BY src, rn""".stripMargin
    }) { (s, d) =>
      val kept = Similarity.bandedPairs(Tables.embeddings(s, d),
        threshold = 0.2, bands = 4, rowsPerBand = 8)
      val edges = kept
        .select(col("id_a").as("src"), col("id_b").as("dst"), col("score"))
        .unionByName(kept.select(col("id_b").as("src"),
          col("id_a").as("dst"), col("score")))
      val w = Window.partitionBy("src").orderBy(col("score").desc, col("dst"))
      edges.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("src", "rn")
    },

    // IVF-style partitioned ANN with k-means-TRAINED centroids: seeds =
    // first 16 vectors, 2 deterministic Lloyd rounds (exact integer
    // squared distance, floor-mean update), assign all vectors to the
    // trained centroids, probe the query's 4 nearest clusters, exact
    // top-10 within. The oracle unrolls the same 2 iterations as CTEs.
    // product-quantization ADC top-k: per-subspace codebooks trained by
    // the same deterministic Lloyd discipline as IVF (seed = first k
    // slices, floor-mean updates, smallest-label ties), vectors encoded
    // to m=16 six-bit codes (12 bytes vs 256 — ~21x compression), the
    // query scored against codebook RECONSTRUCTIONS through an m×k
    // lookup table — raw vectors never read at query time. Oracle
    // unrolls the sub-keyed Lloyd rounds and the ADC fold exactly; the
    // ranking is approximate vs true cosine by construction (recall@10
    // = 0.8 on the fixture, spec-pinned >= 0.7) but bit-deterministic.
    QueryDef("ann_pq_topk", {
      s"""WITH e AS (
         |  SELECT vec_id AS id, ${sqlQ("embedding")} AS q FROM embeddings),
         |s AS (
         |  SELECT id, sb.range AS sub,
         |    list_slice(q, sb.range * 4 + 1, (sb.range + 1) * 4) AS qs
         |  FROM e, range(0, 16) sb),
         |pc0 AS (SELECT sub, id AS clabel, qs AS qc FROM s WHERE id < 64),
         |${sqlPqRound(1, "pc0", "pc1")},
         |${sqlPqRound(2, "pc1", "pc2")},
         |enc AS (
         |  SELECT id, sub, clabel AS code FROM (
         |    SELECT s.id, s.sub, c.clabel,
         |      ROW_NUMBER() OVER (PARTITION BY s.id, s.sub
         |        ORDER BY ${sqlD2("s.qs", "c.qc")}, c.clabel) AS rn
         |    FROM s JOIN pc2 c ON c.sub = s.sub)
         |  WHERE rn = 1),
         |qv AS (SELECT sub, qs AS qq FROM s WHERE id = 0),
         |lut AS (
         |  SELECT c.sub, c.clabel AS code,
         |    list_sum(list_transform(range(1, len(c.qc) + 1),
         |      i -> qv.qq[i] * c.qc[i])) AS pd,
         |    list_sum(list_transform(c.qc, x -> x * x)) AS pn
         |  FROM pc2 c JOIN qv ON qv.sub = c.sub),
         |qn AS (
         |  SELECT list_sum(list_transform(q, x -> x * x)) AS qn2
         |  FROM e WHERE id = 0),
         |sc AS (
         |  SELECT enc.id, SUM(l.pd) AS dot, SUM(l.pn) AS rn2
         |  FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
         |  WHERE enc.id <> 0 GROUP BY enc.id)
         |SELECT sc.id AS vec_id,
         |  CAST(dot AS DOUBLE) / sqrt(CAST(rn2 AS DOUBLE) * CAST(qn.qn2 AS DOUBLE)) AS score
         |FROM sc, qn ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topK(
        Similarity.pqBuild(emb, m = 16, dims = 64, k = 64, iters = 2),
        emb, queryId = 0L, k = 10)
    },

    QueryDef("ann_ivf_topk",
      s"""WITH $sqlKmeansCtes,
         |probes AS (
         |  SELECT clabel AS cluster_id FROM (
         |    SELECT c.clabel,
         |      ROW_NUMBER() OVER (
         |        ORDER BY ${sqlD2("qv.q", "c.qc")}, c.clabel) AS rn
         |    FROM c2 c, (SELECT q FROM e WHERE id = 0) qv)
         |  WHERE rn <= 4),
         |qv AS (SELECT q AS qq FROM e WHERE id = 0)
         |SELECT a.id AS vec_id, a.cluster_id, ${sqlCosine("a.q", "qq")} AS score
         |FROM assign a JOIN probes p ON a.cluster_id = p.cluster_id, qv
         |WHERE a.id <> 0
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topK(Similarity.ivfBuild(emb,
          nCentroids = 16, nProbe = 4, kmeansIters = 2),
        emb, queryId = 0L, k = 10)
    },

    // IVF-PQ composed ANN (IVFADC, Jégou et al. TPAMI 2011): coarse
    // k-means clusters partition the corpus, RESIDUALS r = q - c are
    // product-quantized (same codebook budget quantizes the smaller
    // residuals finer — measured recall 0.8 vs flat PQ's 0.4 at the
    // identical m=16 geometry on sf0.001), and the query's 4 probed
    // clusters are the ONLY codes the ADC fold reads — the literal
    // cluster_id IN (...) predicate that prunes a cluster-partitioned
    // code store at file listing, where flat PQ scans every code. The
    // oracle unrolls coarse Lloyd, residuals, sub-keyed residual Lloyd,
    // probe pruning, and the 5-term ADC fold (dot = q·c + Σ q_s·r̂_s;
    // |v̂|² = |c|² + 2Σ c_s·r̂_s + Σ|r̂_s|²) — integer-exact throughout.
    QueryDef("ann_ivfpq_topk",
      s"""WITH $sqlKmeansCtes,
         |resid AS (
         |  SELECT a.id, a.cluster_id,
         |    list_transform(range(1, len(a.q) + 1),
         |      i -> a.q[i] - c.qc[i]) AS r
         |  FROM assign a JOIN c2 c ON c.clabel = a.cluster_id),
         |s AS (
         |  SELECT id, cluster_id, sb.range AS sub,
         |    list_slice(r, sb.range * 4 + 1, (sb.range + 1) * 4) AS qs
         |  FROM resid, range(0, 16) sb),
         |pc0 AS (SELECT sub, id AS clabel, qs AS qc FROM s WHERE id < 64),
         |${sqlPqRound(1, "pc0", "pc1")},
         |${sqlPqRound(2, "pc1", "pc2")},
         |enc AS (
         |  SELECT id, cluster_id, sub, clabel AS code FROM (
         |    SELECT s.id, s.cluster_id, s.sub, c.clabel,
         |      ROW_NUMBER() OVER (PARTITION BY s.id, s.sub
         |        ORDER BY ${sqlD2("s.qs", "c.qc")}, c.clabel) AS rn
         |    FROM s JOIN pc2 c ON c.sub = s.sub)
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT clabel AS cluster_id FROM (
         |    SELECT c.clabel,
         |      ROW_NUMBER() OVER (
         |        ORDER BY ${sqlD2("qv.q", "c.qc")}, c.clabel) AS rn
         |    FROM c2 c, (SELECT q FROM e WHERE id = 0) qv)
         |  WHERE rn <= 4),
         |qsl AS (
         |  SELECT sb.range AS sub,
         |    list_slice(qv.q, sb.range * 4 + 1, (sb.range + 1) * 4) AS qq
         |  FROM (SELECT q FROM e WHERE id = 0) qv, range(0, 16) sb),
         |csl AS (
         |  SELECT p.cluster_id, sb.range AS sub,
         |    list_slice(c.qc, sb.range * 4 + 1, (sb.range + 1) * 4) AS cs
         |  FROM probes p JOIN c2 c ON c.clabel = p.cluster_id,
         |    range(0, 16) sb),
         |lut AS (
         |  SELECT csl.cluster_id, b.sub, b.clabel AS code,
         |    CAST(list_sum(list_transform(range(1, len(b.qc) + 1),
         |      i -> q.qq[i] * b.qc[i])) AS BIGINT) AS pd,
         |    CAST(list_sum(list_transform(range(1, len(b.qc) + 1),
         |      i -> csl.cs[i] * b.qc[i])) AS BIGINT) AS crs,
         |    CAST(list_sum(list_transform(b.qc, x -> x * x)) AS BIGINT) AS pn
         |  FROM pc2 b JOIN qsl q ON q.sub = b.sub
         |    JOIN csl ON csl.sub = b.sub),
         |coarse AS (
         |  SELECT p.cluster_id,
         |    CAST(list_sum(list_transform(range(1, len(c.qc) + 1),
         |      i -> qv.q[i] * c.qc[i])) AS BIGINT) AS cdot,
         |    CAST(list_sum(list_transform(c.qc, x -> x * x)) AS BIGINT) AS cn2
         |  FROM probes p JOIN c2 c ON c.clabel = p.cluster_id,
         |    (SELECT q FROM e WHERE id = 0) qv),
         |qn AS (
         |  SELECT CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
         |    AS qn2
         |  FROM e WHERE id = 0),
         |sc AS (
         |  SELECT enc.id, enc.cluster_id,
         |    CAST(SUM(l.pd) AS BIGINT) AS rdot,
         |    CAST(SUM(l.crs) AS BIGINT) AS crs,
         |    CAST(SUM(l.pn) AS BIGINT) AS rn2p
         |  FROM enc JOIN lut l ON l.cluster_id = enc.cluster_id
         |    AND l.sub = enc.sub AND l.code = enc.code
         |  WHERE enc.id <> 0
         |  GROUP BY enc.id, enc.cluster_id)
         |SELECT sc.id AS vec_id, sc.cluster_id,
         |  CAST(co.cdot + sc.rdot AS DOUBLE)
         |    / sqrt(CAST(co.cn2 + 2 * sc.crs + sc.rn2p AS DOUBLE)
         |           * CAST(qn.qn2 AS DOUBLE)) AS score
         |FROM sc JOIN coarse co ON co.cluster_id = sc.cluster_id, qn
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topK(Similarity.ivfPqBuild(emb,
          nCentroids = 16, nProbe = 4, kmeansIters = 2,
          m = 16, dims = 64, k = 64, iters = 2),
        emb, queryId = 0L, k = 10)
    },

    // multi-query IVF-PQ: ONE build (coarse Lloyd + residual codebooks +
    // corpus encode), four queries served from one pass over the
    // probe-pruned code table — per-query probe sets ride a broadcast
    // (query_id, cluster_id) fan-out, ADC partials come from two
    // query-/cluster-keyed LUTs; a one-query batch reproduces
    // ann_ivfpq_topk bit for bit (spec-pinned)
    QueryDef("ann_ivfpq_multi", sqlIvfPqMultiOracle) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topKMulti(Similarity.ivfPqBuild(emb, nProbe = 4), emb,
          queryIds = (0L until 4L).toSeq, k = 5)
        .orderBy("query_id", "rn")
    },

    // the 100 TB serve path AS a graded query: build once, write the
    // code table PARTITIONED BY cluster_id to a scratch store, re-read
    // it, and serve the same 4-query batch from the STORE — the literal
    // `cluster_id IN (probes)` predicate prunes the scan at file
    // listing (metric-asserted in SimilaritySpec "model store"), so the
    // ADC pass reads nProbe/nCentroids of the files instead of all of
    // them. The oracle is ann_ivfpq_multi's verbatim: the parquet
    // round-trip is exact for integer codes, so serving from storage is
    // hash-invariant vs serving from memory.
    QueryDef("ann_ivfpq_store", sqlIvfPqMultiOracle) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val model = Similarity.ivfPqBuild(emb, nProbe = 4)
      // fixed per-fixture path + overwrite: a fresh temp dir per
      // execution leaked one store copy per bench/verify pass
      val dir = graft.Scratch.dir("ivfpq-store", d) + "/codes"
      model.codes.write.mode("overwrite").partitionBy("cluster_id")
        .parquet(dir)
      // explicit schema keeps cluster_id LongType (partition-dir value
      // inference would int-ify it) and preserves the build's column order
      val stored = s.read.schema(model.codes.schema).parquet(dir)
      Similarity.topKMulti(model.copy(codes = stored), emb,
          queryIds = (0L until 4L).toSeq, k = 5)
        .orderBy("query_id", "rn")
    },

    // multi-query PQ: codebooks trained ONCE, corpus encoded ONCE, six
    // query vectors served from one broadcast Q×m×k LUT in a single
    // pass over the code table (one keyed aggregate + one query-keyed
    // rank window — never Q corpus scans); the amortization twin of
    // ann_ivf_multi on the compression path
    QueryDef("ann_pq_multi",
      s"""WITH e AS (
         |  SELECT vec_id AS id, ${sqlQ("embedding")} AS q FROM embeddings),
         |s AS (
         |  SELECT id, sb.range AS sub,
         |    list_slice(q, sb.range * 4 + 1, (sb.range + 1) * 4) AS qs
         |  FROM e, range(0, 16) sb),
         |pc0 AS (SELECT sub, id AS clabel, qs AS qc FROM s WHERE id < 64),
         |${sqlPqRound(1, "pc0", "pc1")},
         |${sqlPqRound(2, "pc1", "pc2")},
         |enc AS (
         |  SELECT id, sub, clabel AS code FROM (
         |    SELECT s.id, s.sub, c.clabel,
         |      ROW_NUMBER() OVER (PARTITION BY s.id, s.sub
         |        ORDER BY ${sqlD2("s.qs", "c.qc")}, c.clabel) AS rn
         |    FROM s JOIN pc2 c ON c.sub = s.sub)
         |  WHERE rn = 1),
         |qv AS (SELECT id AS query_id, sub, qs AS qq FROM s WHERE id < 6),
         |lut AS (
         |  SELECT qv.query_id, c.sub, c.clabel AS code,
         |    CAST(list_sum(list_transform(range(1, len(c.qc) + 1),
         |      i -> qv.qq[i] * c.qc[i])) AS BIGINT) AS pd,
         |    CAST(list_sum(list_transform(c.qc, x -> x * x)) AS BIGINT) AS pn
         |  FROM pc2 c JOIN qv ON qv.sub = c.sub),
         |qn AS (
         |  SELECT id AS query_id,
         |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qn2
         |  FROM e WHERE id < 6),
         |sc AS (
         |  SELECT l.query_id, enc.id,
         |    CAST(SUM(l.pd) AS BIGINT) AS dot,
         |    CAST(SUM(l.pn) AS BIGINT) AS rn2
         |  FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
         |  WHERE enc.id <> l.query_id
         |  GROUP BY l.query_id, enc.id),
         |scored AS (
         |  SELECT sc.query_id, sc.id AS vec_id,
         |    CAST(dot AS DOUBLE)
         |      / sqrt(CAST(rn2 AS DOUBLE) * CAST(qn.qn2 AS DOUBLE)) AS score
         |  FROM sc JOIN qn ON qn.query_id = sc.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY score DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, score, rn FROM ranked WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topKMulti(
          Similarity.pqBuild(emb, m = 16, dims = 64, k = 64, iters = 2),
          emb, queryIds = (0L until 6L).toSeq, k = 5)
        .orderBy("query_id", "rn")
    },

    // multi-query IVF: centroids trained ONCE, each of 6 query vectors
    // probes its own 4 clusters — the amortization argument for k-means
    // training; per-query top-5 via a query-keyed window
    QueryDef("ann_ivf_multi",
      s"""WITH $sqlKmeansCtes,
         |qs AS (
         |  SELECT id AS query_id, q AS qq FROM e WHERE id < 6),
         |probes AS (
         |  SELECT query_id, clabel AS cluster_id FROM (
         |    SELECT qs.query_id, c.clabel,
         |      ROW_NUMBER() OVER (PARTITION BY qs.query_id
         |        ORDER BY ${sqlD2("qs.qq", "c.qc")}, c.clabel) AS rn
         |    FROM c2 c, qs)
         |  WHERE rn <= 4),
         |scored AS (
         |  SELECT p.query_id, a.id AS vec_id,
         |    ${sqlCosine("a.q", "qs.qq")} AS score
         |  FROM assign a
         |    JOIN probes p ON a.cluster_id = p.cluster_id
         |    JOIN qs ON qs.query_id = p.query_id
         |  WHERE a.id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY score DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, score, rn FROM ranked WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topKMulti(Similarity.ivfBuild(emb,
          nCentroids = 16, nProbe = 4, kmeansIters = 2),
          emb, queryIds = (0L until 6L).toSeq, k = 5)
        .drop("cluster_id")
        .orderBy("query_id", "rn")
    },

    // exact all-pairs near-dup (the O(n²) correctness baseline for the
    // banded variant; small n only)
    QueryDef("sim_bruteforce_pairs",
      s"""WITH e AS (
         |  SELECT vec_id, ${sqlQ("embedding")} AS q FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${sqlCosine("a.q", "b.q")} AS score
         |FROM e a, e b WHERE a.vec_id < b.vec_id
         |  AND ${sqlCosine("a.q", "b.q")} >= 0.44
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Similarity.bruteForcePairs(Tables.embeddings(s, d), threshold = 0.44)
        .orderBy("id_a", "id_b")
    },

    // one k-means ASSIGNMENT step: per-label integer centroids
    // (floor(sum/n) per dim — exact in both engines), every vector
    // assigned to its nearest centroid by exact integer squared
    // distance, confusion counts out. The canonical iterative-Spark
    // workload shape: only the k×dims centroid table is broadcast.
    QueryDef("sim_centroid_assign",
      s"""WITH q AS (
         |  SELECT vec_id, label, ${sqlQ("embedding")} AS qv FROM embeddings),
         |dims AS (
         |  SELECT DISTINCT unnest(range(1, len(qv) + 1)) AS d FROM q),
         |x AS (
         |  SELECT q.label, dims.d, qv[dims.d] AS v
         |  FROM q JOIN dims ON dims.d <= len(qv)),
         |cent AS (
         |  SELECT label AS clabel, d,
         |         CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
         |  FROM x GROUP BY 1, 2),
         |carr AS (SELECT clabel, list(c ORDER BY d) AS qc FROM cent GROUP BY 1),
         |dist AS (
         |  SELECT q.vec_id, q.label, carr.clabel,
         |    list_sum(list_transform(range(1, len(q.qv) + 1),
         |      i -> (q.qv[i] - carr.qc[i]) * (q.qv[i] - carr.qc[i]))) AS d2
         |  FROM q, carr),
         |best AS (
         |  SELECT vec_id, label, clabel,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id
         |                            ORDER BY d2, clabel) AS rn
         |  FROM dist)
         |SELECT label, clabel AS assigned, COUNT(*) AS n
         |FROM best WHERE rn = 1
         |GROUP BY 1, 2 ORDER BY label, assigned""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val vecs = e.select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("q"))
      val cents = Similarity.labelCentroids(e, "label", "embedding")
      Similarity.assignNearest(vecs, "q", cents)
        .groupBy("label", "assigned")
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "assigned")
    },

    // matryoshka-style truncation audit: top-10 recall of 16-dim
    // prefixes vs the full 64-dim cosine ranking, per query — the
    // measurement behind "store short prefixes hot, rerank with full
    // vectors cold". Truncation is an array slice on the already-
    // quantized vectors; both rankings share one scored frame, and the
    // per-query window is keyed on query_id.
    QueryDef("ann_truncated_recall",
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, ${sqlQ("embedding")} AS qq
         |  FROM embeddings WHERE vec_id < 8),
         |e AS (
         |  SELECT vec_id, ${sqlQ("embedding")} AS qe FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    ${sqlCosine("qe", "qq")} AS score_full,
         |    ${sqlCosine("qe[1:16]", "qq[1:16]")} AS score_trunc
         |  FROM e, q WHERE e.vec_id <> q.query_id),
         |r AS (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score_full DESC, vec_id) AS rf,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score_trunc DESC, vec_id) AS rt
         |  FROM scored)
         |SELECT query_id,
         |  COUNT(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 END) AS n_overlap,
         |  CAST(COUNT(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 END)
         |    AS DOUBLE) / 10.0 AS recall_at_10
         |FROM r GROUP BY query_id ORDER BY query_id""".stripMargin) {
      (s, d) =>
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"),
            Similarity.quantize(col("embedding")).as("qq"))
        val e = emb.select(col("vec_id"),
          Similarity.quantize(col("embedding")).as("qe"))
        val scored = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            Similarity.cosineQ(col("qe"), col("qq")).as("score_full"),
            Similarity.cosineQ(slice(col("qe"), 1, 16),
              slice(col("qq"), 1, 16)).as("score_trunc"))
        val byQ = Window.partitionBy("query_id")
        scored
          .withColumn("rf", row_number().over(
            byQ.orderBy(col("score_full").desc, col("vec_id"))))
          .withColumn("rt", row_number().over(
            byQ.orderBy(col("score_trunc").desc, col("vec_id"))))
          .groupBy("query_id")
          .agg(
            count(when(col("rf") <= 10 && col("rt") <= 10, lit(1)))
              .as("n_overlap"),
            (count(when(col("rf") <= 10 && col("rt") <= 10, lit(1)))
              .cast("double") / 10.0).as("recall_at_10"))
          .orderBy("query_id")
    },

    // hybrid retrieval: BM25 top-50 and cosine-ANN top-50 fused by
    // reciprocal-rank fusion — the RAG retrieval shape. Each side ends
    // in a TakeOrderedAndProject before its 50-row rank window, so the
    // only global steps are k-row epilogues; RRF contributions are
    // fixed-point floors (integers), immune to summation order. Docs
    // found by only one side still fuse (full outer, missing side = 0).
    QueryDef("hybrid_rrf_topk", {
      s"""WITH e AS (
        |  SELECT vec_id, ${sqlQ("embedding")} AS q FROM embeddings),
        |qv AS (SELECT q AS qq FROM e WHERE vec_id = 0),
        |cosall AS (
        |  SELECT e.vec_id AS doc_id,
        |    ${sqlCosine("e.q", "qv.qq")} AS cos
        |  FROM e CROSS JOIN qv),
        |ctop AS (SELECT doc_id, cos FROM cosall
        |         ORDER BY cos DESC, doc_id LIMIT 50),
        |crank AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
        |    AS cos_rank FROM ctop),
        |docs AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
        |    string_split(text, ' ') AS toks
        |  FROM documents),
        |stats AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS totdl
        |  FROM docs),
        |t AS (SELECT doc_id, dl, unnest(toks) AS tok FROM docs),
        |tf AS (
        |  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM t
        |  WHERE tok IN ('spark', 'query', 'window') GROUP BY 1, 2, 3),
        |dfq AS (
        |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t
        |  WHERE tok IN ('spark', 'query', 'window') GROUP BY 1),
        |term AS (
        |  SELECT tf.doc_id,
        |    ((CAST(s.n AS DOUBLE) - dfq.df + 0.5)
        |      / (CAST(dfq.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
        |        (CAST(tf.dl AS DOUBLE)
        |          / (CAST(s.totdl AS DOUBLE) / s.n)))) AS term
        |  FROM tf JOIN dfq ON dfq.tok = tf.tok CROSS JOIN stats s),
        |bscore AS (
        |  SELECT doc_id,
        |    CAST(SUM(FLOOR(term * 1000000000.0)) AS BIGINT) AS score_fp
        |  FROM term GROUP BY doc_id),
        |btop AS (SELECT doc_id, score_fp FROM bscore
        |         ORDER BY score_fp DESC, doc_id LIMIT 50),
        |brank AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (
        |    ORDER BY score_fp DESC, doc_id) AS bm25_rank FROM btop),
        |f AS (
        |  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
        |    b.bm25_rank, c.cos_rank
        |  FROM brank b FULL OUTER JOIN crank c ON c.doc_id = b.doc_id)
        |SELECT doc_id, bm25_rank, cos_rank,
        |  CAST(COALESCE(FLOOR(1000000000000.0 / (60.0 + bm25_rank)), 0)
        |     + COALESCE(FLOOR(1000000000000.0 / (60.0 + cos_rank)), 0)
        |    AS BIGINT) AS rrf_fp
        |FROM f ORDER BY rrf_fp DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, d) =>
      import graft.ext.TextAnalysis
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
      val qv = e.filter(col("vec_id") === 0).select(col("q").as("qq"))
      val crank = e.crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          Similarity.cosineQ(col("q"), col("qq")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(50)
        .withColumn("cos_rank", row_number().over(
          Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "cos_rank")
      val brank = TextAnalysis.bm25Scores(Tables.documents(s, d),
          "doc_id", "text", Seq("spark", "query", "window"))
        .orderBy(col("score_fp").desc, col("doc_id")).limit(50)
        .withColumn("bm25_rank", row_number().over(
          Window.orderBy(col("score_fp").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "bm25_rank")
      brank.join(crank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
          (coalesce(floor(lit(1e12) / (lit(60.0) + col("bm25_rank"))), lit(0L))
            + coalesce(floor(lit(1e12) / (lit(60.0) + col("cos_rank"))),
              lit(0L))).as("rrf_fp"))
        .orderBy(col("rrf_fp").desc, col("doc_id")).limit(20)
    },

    // int8 scalar quantization audit: per-vector min/max range coding to
    // 256 levels and the reconstruction MSE — the compression/recall
    // trade every vector store makes before ANN, here in one narrow
    // projection (no shuffle at all; the fold is a sequential in-order
    // `aggregate`, mirrored by DuckDB `list_reduce`, so the double sums
    // match bit-for-bit; transcendental-free throughout)
    QueryDef("sim_quantize_int8", {
      val x = "CAST(x - mn AS DOUBLE)"
      s"""WITH e AS (
        |  SELECT vec_id, ${sqlQ("embedding")} AS q FROM embeddings),
        |s AS (
        |  SELECT vec_id, q, list_min(q) AS mn, list_max(q) AS mx FROM e),
        |p AS (
        |  SELECT vec_id, q, mn, mx,
        |    CAST(mx - mn AS DOUBLE) / 255.0 AS scale
        |  FROM s)
        |SELECT vec_id, mn, mx, scale,
        |  CASE WHEN mx = mn THEN 0.0 ELSE
        |    list_reduce(list_prepend(0.0, list_transform(q, x ->
        |      ($x - FLOOR($x / scale + 0.5) * scale)
        |      * ($x - FLOOR($x / scale + 0.5) * scale))),
        |      (acc, v) -> acc + v) / len(q)
        |  END AS mse
        |FROM p ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      val q = Similarity.quantize(col("embedding"))
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), q.as("q"))
        .withColumn("mn", array_min(col("q")))
        .withColumn("mx", array_max(col("q")))
        .withColumn("scale", (col("mx") - col("mn")).cast("double") / 255.0)
      base.select(col("vec_id"), col("mn"), col("mx"), col("scale"),
          when(col("mx") === col("mn"), lit(0.0)).otherwise(
            aggregate(
              transform(col("q"), { x =>
                val xd = (x - col("mn")).cast("double")
                val err = xd - floor(xd / col("scale") + 0.5) * col("scale")
                err * err
              }),
              lit(0.0), (acc, v) => acc + v) / size(col("q")))
            .as("mse"))
        .orderBy("vec_id")
    },

    // SemDeDup (Abbas et al. 2023): semantic dedup with the pairwise
    // space bounded by trained k-means clusters — pairs are an equi-join
    // on cluster_id (n²/k per cluster, one keyed exchange), never the
    // global cross join of dedup_embedding_survivors; the oracle replays
    // the identical deterministic Lloyd rounds as CTEs
    QueryDef("sim_semantic_dedup",
      s"""WITH $sqlKmeansCtes,
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM assign a JOIN assign b
         |    ON a.cluster_id = b.cluster_id AND a.id < b.id
         |  WHERE ${sqlCosine("a.q", "b.q")} >= 0.35),
         |dropped AS (SELECT DISTINCT id_b FROM pairs)
         |SELECT s.id AS vec_id, s.cluster_id FROM assign s
         |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.id_b = s.id)
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      Similarity.semanticDedupSurvivors(Tables.embeddings(s, d),
          threshold = 0.35, nCentroids = 16, kmeansIters = 2)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },

    // chunk->document embedding pooling: vectors group (synthetically,
    // vec_id mod 50 — the fixture has no chunk map) and each dimension
    // pools to floor(mean) of the quantized values; long format keeps
    // every output scalar. One explode + one (group, dim) hash-agg.
    QueryDef("sim_mean_pool",
      s"""WITH q AS (
        |  SELECT vec_id % 50 AS grp, ${sqlQ("embedding")} AS q
        |  FROM embeddings),
        |e AS (
        |  SELECT grp, unnest(range(0, len(q))) AS pos, unnest(q) AS v
        |  FROM q)
        |SELECT grp, pos,
        |  CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT)
        |    AS pooled_q
        |FROM e GROUP BY grp, pos ORDER BY grp, pos""".stripMargin) {
      (s, d) =>
      Similarity.meanPool(
          Tables.embeddings(s, d).withColumn("grp", col("vec_id") % 50),
          "grp")
        .orderBy("grp", "pos")
    },
  )
}
