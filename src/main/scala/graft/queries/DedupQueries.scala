package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.{Dedup, TextAnalysis}
import graft.ops.Materialize
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` (SURVEY.md north-star ops). The
  * oracle SQL mirrors the Spark math exactly — token hashes are
  * md5-derived 31-bit ints and all arithmetic is 64-bit integer, so both
  * engines produce identical values (constants come from the same Scala
  * definitions via string interpolation).
  */
object DedupQueries {

  /** DuckDB fragment: TextAnalysis.tokenHash31. */
  private def sqlH31(t: String): String = OracleSql.h31(t)

  private val sqlToks =
    "list_distinct(string_split(text, ' '))"

  /** DuckDB fragment: Dedup.minhashes element i. */
  private def sqlMinhash(i: Int): String = {
    val (a, b) = Dedup.minhashPerm(i)
    s"list_min(list_transform(toks, t -> ($a * ${sqlH31("t")} + $b) % 2147483647))"
  }

  /** DuckDB fragment: Dedup.bandKeys band b over columns m0..m31.
    * 2 bands x 16 rows: the corpus has ~0.78 background Jaccard (40-word
    * vocabulary), so shallow bands admit a large fraction of ALL pairs as
    * candidates (8-row bands: ~14% = 1.7M pairs at sf0.1). 16-row bands
    * admit ~1.9%, keep 100% recall for identical token sets (the planted
    * dup type) and ~69% for J=0.95. */
  private def sqlBand(b: Int, rowsPerBand: Int = 16): String =
    (0 until rowsPerBand).foldLeft(s"${b}::BIGINT") { (acc, r) =>
      s"(($acc) * 31 + m${b * rowsPerBand + r}) % ${Dedup.P}"
    }

  /** Shared CTE chain: MinHash signatures -> 2×16 LSH bands -> banded
    * candidates -> exact Jaccard re-rank numerators `j(id_a, id_b,
    * inter, un)` over ALL documents. Mirrors [[Dedup.minhashLshPairs]]
    * at [[graft.ext.DedupProfile.default]]. */
  private val sqlLshCtes: String = {
    val mh = (0 until 32).map(i => s"${sqlMinhash(i)} AS m$i").mkString(",\n    ")
    val bands = (0 until 2).map(b => s"${sqlBand(b)} AS band_$b").mkString(",\n    ")
    s"""t AS (
       |  SELECT doc_id, $sqlToks AS toks FROM documents),
       |m AS (
       |  SELECT doc_id, toks,
       |    $mh
       |  FROM t),
       |k AS (
       |  SELECT doc_id, toks,
       |    $bands
       |  FROM m),
       |banded AS (
       |  SELECT doc_id, toks, unnest([band_0, band_1]) AS band
       |  FROM k),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(ta.toks, tb.toks))::BIGINT AS inter,
       |    (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))::BIGINT AS un
       |  FROM cand c JOIN t ta ON ta.doc_id = c.id_a
       |              JOIN t tb ON tb.doc_id = c.id_b)""".stripMargin
  }

  /** Shared CTE chain: exact unigram-Jaccard pairs (J >= 0.9) over the
    * English documents — `jp(id_a, id_b, inter, un, jaccard)`. Mirrors
    * [[Dedup.jaccardPairs]]. */
  private val sqlJaccardEnCtes =
    """d AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents WHERE lang = 'en'),
      |i AS (
      |  SELECT doc_id, len(toks)::BIGINT AS n_sh, unnest(toks) AS shingle
      |  FROM d),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS inter
      |  FROM i a JOIN i b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |jp AS (
      |  SELECT id_a, id_b, inter, na + nb - inter AS un,
      |         CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      |  FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.9)""".stripMargin

  /** [[sqlJaccardEnCtes]] restricted to the doc_id < 200 slice the
    * prefix-join query grades on. */
  private val sqlJaccardPrefixCtes =
    sqlJaccardEnCtes.replace(
      "FROM documents WHERE lang = 'en'",
      "FROM documents WHERE lang = 'en' AND doc_id < 200")

  val defs: Seq[QueryDef] = Seq(

    // 1. exact content-hash dedup (keep-first)
    QueryDef("dedup_exact_keep_first",
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        Dedup.keepFirstExact(Tables.documents(s, d), "doc_id", "text")
          .orderBy("doc_id")
    },

    // 2. token-set canonical signature: reordered duplicates
    QueryDef("dedup_tokenset_groups",
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |         string_split(text, ' '))), ' ')) AS sig,
        |       MIN(doc_id) AS keep_id, COUNT(*) AS n_members
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1
        |ORDER BY keep_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(Dedup.tokenSetSignature(col("text")).as("sig"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1)
        .orderBy("keep_id")
    },

    // 3. MinHash + LSH banding + exact Jaccard re-rank
    QueryDef("dedup_minhash_lsh",
      s"""WITH $sqlLshCtes
         |SELECT id_a, id_b, inter, un,
         |       CAST(inter AS DOUBLE) / un AS jaccard
         |FROM j WHERE CAST(inter AS DOUBLE) / un >= 0.95
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      // scale path: one hash per (doc, token), signatures + candidates +
      // re-rank all as codegen'd joins/aggregates (Dedup scaladoc),
      // parameterized by the corpus profile (defaults = the constants
      // this oracle unrolls; the fixture's ~31-token vocabulary takes
      // the bitset re-rank, one mask word per doc)
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          graft.ext.DedupProfile.default)
        .orderBy("id_a", "id_b")
    },

    // 3a. SPLIT LEAKAGE — near-duplicate contamination ACROSS the
    // train/val boundary: the decontamination audit between "corpus
    // frozen" and "loss curves mean anything". A val document with a
    // >= 0.95-Jaccard twin in train leaks the held-out signal; this
    // query names every such val doc, how many train partners it has,
    // and its worst (highest-Jaccard, ties to the smallest id) train
    // partner. The split is text_train_split's deterministic
    // hash-threshold assignment (h31(doc_id) mod 100 < 90 = train) —
    // stateless, so the leakage audit composes with ANY downstream
    // export without a split table. Candidates come from the SAME
    // banded LSH machinery as dedup_minhash_lsh (one hash per (doc,
    // token), banded candidate join, bitset re-rank — never
    // all-pairs); the leakage tail adds one filter and one
    // val-doc-keyed agg. The best-partner argmax rides a struct max
    // (jaccard, then smaller id), replayed in the oracle as a
    // row_number — DuckDB's problem, not the plan's.
    QueryDef("pipeline_split_leakage",
      s"""WITH $sqlLshCtes,
         |sp AS (
         |  SELECT id_a, id_b,
         |    CAST(inter AS DOUBLE) / un AS jaccard,
         |    ${sqlH31("CAST(id_a AS VARCHAR)")} % 100 < 90 AS ta,
         |    ${sqlH31("CAST(id_b AS VARCHAR)")} % 100 < 90 AS tb
         |  FROM j WHERE CAST(inter AS DOUBLE) / un >= 0.95),
         |cx AS (
         |  SELECT CASE WHEN ta THEN id_b ELSE id_a END AS val_doc,
         |         CASE WHEN ta THEN id_a ELSE id_b END AS train_doc,
         |         jaccard
         |  FROM sp WHERE ta <> tb),
         |r AS (
         |  SELECT val_doc, train_doc, jaccard,
         |    row_number() OVER (PARTITION BY val_doc
         |      ORDER BY jaccard DESC, train_doc) AS rn
         |  FROM cx),
         |a AS (
         |  SELECT val_doc, CAST(COUNT(*) AS BIGINT) AS n_train_partners,
         |    max(jaccard) AS best_jaccard
         |  FROM cx GROUP BY val_doc)
         |SELECT a.val_doc, a.n_train_partners,
         |  r.train_doc AS best_train_doc, a.best_jaccard
         |FROM a JOIN r ON r.val_doc = a.val_doc AND r.rn = 1
         |ORDER BY a.val_doc""".stripMargin) { (s, d) =>
      def isTrain(c: org.apache.spark.sql.Column) =
        TextAnalysis.tokenHash31(c.cast("string")) % 100L < 90L
      val cx = Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id",
          "text", graft.ext.DedupProfile.default)
        .withColumn("ta", isTrain(col("id_a")))
        .withColumn("tb", isTrain(col("id_b")))
        .filter(col("ta") =!= col("tb"))
        .select(
          when(col("ta"), col("id_b")).otherwise(col("id_a"))
            .as("val_doc"),
          when(col("ta"), col("id_a")).otherwise(col("id_b"))
            .as("train_doc"),
          col("jaccard"))
      cx.groupBy("val_doc")
        .agg(count(lit(1)).as("n_train_partners"),
          max(col("jaccard")).as("best_jaccard"),
          max(struct(col("jaccard"),
            (-col("train_doc")).as("nt"))).as("__b"))
        .select(col("val_doc"), col("n_train_partners"),
          (-col("__b").getField("nt")).cast("long")
            .as("best_train_doc"),
          col("best_jaccard"))
        .orderBy("val_doc")
    },

    // 3b. the measure -> derive -> dedup loop END TO END: profile the
    // corpus background on a deterministic hash sample (all docs when
    // the corpus is small), derive the (bands, rows) geometry from the
    // S-curve, and run the LSH dedup UNDER THE DERIVED GEOMETRY. The
    // oracle replays every step — sample selection, p50 with the
    // zero-overlap correction, fold-based powers (bit-identical to the
    // Scala powIter; no pow()), the (prob, b, r) argmin, and dynamic
    // banding via list_slice/list_reduce — so a drift anywhere in the
    // loop (sampling, quantile, S-curve, banding) fails the hash.
    QueryDef("dedup_pipeline_derived", {
      def pw(x: String, n: String) =
        s"list_reduce(list_prepend(1.0::DOUBLE, list_transform(range($n)," +
          s" __i -> ($x))), (__a, __b) -> __a * __b)"
      val mh32 = (0 until 32).map(sqlMinhash).mkString(", ")
      s"""WITH tot AS (SELECT COUNT(*) AS n FROM documents),
         |pm AS (SELECT least(1000000, greatest(1,
         |         (100 * 1000000) // greatest(n, 1))) AS pm FROM tot),
         |samp AS (
         |  SELECT doc_id, $sqlToks AS toks
         |  FROM documents, pm
         |  WHERE ${sqlH31("doc_id::VARCHAR")} % 1000000 < pm.pm
         |  ORDER BY ${sqlH31("doc_id::VARCHAR")}, doc_id LIMIT 2000),
         |sn AS (SELECT COUNT(*)::BIGINT AS nd FROM samp),
         |sp AS (
         |  SELECT len(list_intersect(a.toks, b.toks))::BIGINT AS inter,
         |    (len(a.toks) + len(b.toks)
         |      - len(list_intersect(a.toks, b.toks)))::BIGINT AS un
         |  FROM samp a JOIN samp b ON a.doc_id < b.doc_id),
         |sh AS (SELECT CAST(inter AS DOUBLE) / un AS jj FROM sp WHERE inter >= 1),
         |shx AS (SELECT jj, row_number() OVER (ORDER BY jj) AS rn FROM sh),
         |st AS (
         |  SELECT nd, nd * (nd - 1) // 2 AS np,
         |    (SELECT COUNT(*)::BIGINT FROM sh) AS nsh FROM sn),
         |qx AS (
         |  SELECT least(np - 1, (np + 1) // 2 - 1) AS idx,
         |    np - nsh AS zeroes FROM st),
         |bg AS (
         |  SELECT CASE WHEN q.idx < q.zeroes THEN 0.0
         |    ELSE (SELECT jj FROM shx WHERE shx.rn = q.idx - q.zeroes + 1)
         |    END AS bg
         |  FROM qx q),
         |grid AS (
         |  SELECT tb.range AS b, tr.range AS r
         |  FROM range(1, 33) tr, range(1, 33) tb
         |  WHERE tb.range * tr.range <= 32),
         |probs AS (
         |  SELECT b, r,
         |    1.0 - ${pw(s"1.0 - ${pw("0.95::DOUBLE", "r")}", "b")} AS prt,
         |    1.0 - ${pw(s"1.0 - ${pw("bg.bg", "r")}", "b")} AS prb
         |  FROM grid, bg),
         |pick AS (
         |  SELECT b, r FROM probs WHERE prt >= 0.65 AND prb <= 0.05
         |  ORDER BY prb, b, r LIMIT 1),
         |t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |msig AS (SELECT doc_id, toks, [$mh32] AS sig FROM t),
         |banded AS (
         |  SELECT doc_id, toks, unnest(list_transform(range(pk.b), __bi ->
         |    list_reduce(
         |      list_prepend(__bi::BIGINT,
         |        list_slice(sig, __bi * pk.r + 1, (__bi + 1) * pk.r)),
         |      (__acc, __x) -> (__acc * 31 + __x) % ${Dedup.P}))) AS band
         |  FROM msig, pick pk),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.doc_id < b.doc_id),
         |jd AS (
         |  SELECT c.id_a, c.id_b,
         |    len(list_intersect(ta.toks, tb.toks))::BIGINT AS inter,
         |    (len(ta.toks) + len(tb.toks)
         |      - len(list_intersect(ta.toks, tb.toks)))::BIGINT AS un
         |  FROM cand c JOIN t ta ON ta.doc_id = c.id_a
         |              JOIN t tb ON tb.doc_id = c.id_b)
         |SELECT jd.id_a, jd.id_b, jd.inter, jd.un,
         |  CAST(jd.inter AS DOUBLE) / jd.un AS jaccard,
         |  CAST(pk.b AS BIGINT) AS bands, CAST(pk.r AS BIGINT) AS rows_per_band
         |FROM jd, pick pk
         |WHERE CAST(jd.inter AS DOUBLE) / jd.un >= 0.95
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // count-derived PPM sample rate (targets ~100 sampled docs at
      // ANY SF; the hash-ordered cap inside the probe is the absolute
      // backstop once the rate floor binds). A plain RDD count is one
      // job; Dataset.count's aggregate exchange is two under AQE.
      val ppm = graft.ext.Similarity.derivedSamplePpm(
        docs.select(lit(1)).rdd.count())
      val stats = Dedup.sampleJaccardStats(docs, "doc_id", "text",
        n = 1, samplePpm = ppm)
      val prof = graft.ext.DedupProfile.derive(k = 32, threshold = 0.95,
        backgroundJ = stats.p50J, minRecall = 0.65, maxBackground = 0.05)
      Dedup.minhashLshPairs(docs, "doc_id", "text", prof)
        .withColumn("bands", lit(prof.bands.toLong))
        .withColumn("rows_per_band", lit(prof.rowsPerBand.toLong))
        .orderBy("id_a", "id_b")
    },

    // 3c. the DEDUP-INDEX STORE round-trip — "query the dedup index
    // without rebuilding it", the 100 TB serve shape the IVF-PQ family
    // already has (`ann_ivfpq_store`): MinHash band signatures written
    // ONCE to a parquet store partitioned by a BOUNDED band-key bucket
    // (raw band keys would mean billions of partition dirs; 64 buckets
    // keep the directory tree sane at any scale), re-read with an
    // explicit schema (partition-dir inference would int-ify the
    // bucket), then a probe batch served against it: probe signatures
    // are computed MAP-ONLY (no index shuffle), the store scan is
    // PRUNED to the probe buckets (static isin pruning — the probe
    // bucket set is bounded driver state, <= bands x |probes| values;
    // a large probe batch would broadcast-join and let dynamic
    // partition pruning do the same), candidates are band-key
    // collisions, and the exact-Jaccard re-rank confirms. The oracle
    // replays signatures, banding, the probe/index split, collision
    // join and re-rank; bucketing is a superset-safe physical detail
    // the oracle need not model. Pruning itself is metric-asserted in
    // DedupSpec (partitions listed <= probe buckets), and the
    // LARGE-probe-batch variant — probe side kept as a file-backed
    // frame, broadcast-joined, dynamic partition pruning cutting the
    // same directories — is metric-asserted beside it (the
    // dynamicpruning filter requires a surviving selective predicate,
    // which a file-backed probe side has and a constant-folded local
    // relation does not).
    QueryDef("dedup_band_store", {
      val mh = (0 until 32).map(i => s"${sqlMinhash(i)} AS m$i")
        .mkString(",\n    ")
      val bands = (0 until 2).map(b => s"${sqlBand(b)} AS band_$b")
        .mkString(",\n    ")
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |m AS (
         |  SELECT doc_id, toks,
         |    $mh
         |  FROM t),
         |k AS (
         |  SELECT doc_id,
         |    $bands
         |  FROM m),
         |banded AS (
         |  SELECT doc_id, unnest([band_0, band_1]) AS band FROM k),
         |probes AS (SELECT * FROM banded WHERE doc_id % 50 = 0),
         |store AS (SELECT * FROM banded WHERE doc_id % 50 <> 0),
         |cand AS (
         |  SELECT DISTINCT p.doc_id AS probe_id, s.doc_id AS cand_id
         |  FROM probes p JOIN store s ON s.band = p.band),
         |j AS (
         |  SELECT c.probe_id, c.cand_id,
         |    len(list_intersect(ta.toks, tb.toks))::BIGINT AS inter,
         |    (len(ta.toks) + len(tb.toks)
         |      - len(list_intersect(ta.toks, tb.toks)))::BIGINT AS un
         |  FROM cand c JOIN t ta ON ta.doc_id = c.probe_id
         |              JOIN t tb ON tb.doc_id = c.cand_id)
         |SELECT probe_id, cand_id, inter, un,
         |  CAST(inter AS DOUBLE) / un AS jaccard
         |FROM j WHERE inter * 20 >= un * 19
         |ORDER BY probe_id, cand_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // INDEX side (the corpus-scale leg): one hash per (doc, token)
      // via the token index + hash-agg signatures — the minhashLshPairs
      // scale path; the per-row `minhashes` expression would recompute
      // md5(token) once per permutation (32x) and cost minutes at sf0.1
      val storeSig = Dedup.minhashSignatures(
        Dedup.tokenIndex(docs.filter(col("doc_id") % 50 =!= 0),
          "doc_id", "text", 1), 32)
      val store = storeSig
        .select(col("id").as("doc_id"),
          explode(Dedup.bandKeyCols(2, 16)).as("band"))
        .withColumn("bucket", col("band") % 64L)
      // fixed per-fixture path + overwrite: a fresh temp dir per
      // execution leaked one store copy per bench/verify pass
      val dir = graft.Scratch.dir("band-store", d) + "/bands"
      // cluster by the partition column before the write: without it
      // every task writes a sliver of every bucket dir (tasks x buckets
      // tiny files — 2048 here, file-open overhead dominated the query);
      // clustered, each bucket is one file — the shape a 100 TB store
      // wants anyway (fewer, larger files per partition)
      store.repartition(col("bucket")).write.mode("overwrite")
        .partitionBy("bucket").parquet(dir)
      val stored = s.read.schema(store.schema).parquet(dir)
      // PROBE side: the same token-index signature operators over ONLY
      // the probe slice (the scan prunes on the predicate first, so the
      // groupBy touches ~|corpus|/50 rows — signing a probe batch costs
      // the batch, not the corpus). NOT the per-row `minhashes`
      // expression: its 32-permutation tree costs ~4 s of codegen per
      // action at any data size (measured), and this frame feeds three
      // actions. The tiny result is lazily checkpointed so those
      // actions share one computation.
      val probes = Materialize(Dedup.minhashSignatures(
        Dedup.tokenIndex(docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", 1), 32)
        .select(col("id").as("doc_id"),
          explode(Dedup.bandKeyCols(2, 16)).as("band")),
        eager = false)
      val probeBuckets = probes.select((col("band") % 64L).as("b"))
        .distinct().collect().map(_.getLong(0)).toSeq
      val cand = stored.filter(col("bucket").isin(probeBuckets: _*))
        .join(probes.select(col("band"), col("doc_id").as("probe_id")),
          Seq("band"))
        .select(col("probe_id"), col("doc_id").as("cand_id"))
        .distinct()
      val toks = docs.select(col("doc_id"),
        array_distinct(TextAnalysis.tokens(col("text"))).as("toks"))
      val inter = size(array_intersect(col("ta"), col("tb"))).cast("long")
      cand
        .join(toks.select(col("doc_id").as("probe_id"),
          col("toks").as("ta")), Seq("probe_id"))
        .join(toks.select(col("doc_id").as("cand_id"),
          col("toks").as("tb")), Seq("cand_id"))
        .select(col("probe_id"), col("cand_id"), inter.as("inter"),
          (size(col("ta")) + size(col("tb")) - inter).cast("long")
            .as("un"))
        .filter(col("inter") * 20L >= col("un") * 19L)
        .withColumn("jaccard", col("inter").cast("double") / col("un"))
        .orderBy("probe_id", "cand_id")
    },

    // 3d. C4 CROSS-DOCUMENT span dedup (Raffel et al. 2020 §2.2):
    // "discard all but one of any three-sentence span occurring more
    // than once in the data set" — the reference C4 pipeline's exact
    // dedup step, graded END TO END: hash-planted terminal punctuation
    // (the text_sentences trick — the raw fixture is period-free),
    // sentence segmentation, span keys as the double 31-bit hash,
    // corpus-wide keeper resolution (first (doc_id, position)), drop
    // union, and per-doc reassembly all replayed in SQL. The fixture's
    // planted exact-duplicate docs guarantee duplicated spans, and the
    // within-doc repetition class exercises overlapping drops.
    QueryDef("text_span_dedup", {
      val spanExpr = s"array_to_string(l[i:i+2], chr(1))"
      s"""WITH planted AS (
         |  SELECT doc_id, array_to_string(list_transform(
         |    string_split(text, ' '),
         |    t -> t || CASE WHEN ${sqlH31("t")} % 5 = 0
         |              THEN '.' ELSE '' END), ' ') AS p
         |  FROM documents),
         |ss AS (
         |  SELECT doc_id, list_filter(list_transform(
         |    string_split(
         |      regexp_replace(p,
         |        '([.!?]+["'')\\]]*)[ \\t\\r\\n\\f]+', '\\1' || chr(1), 'g'),
         |      chr(1)),
         |    s -> trim(s)), s -> length(s) > 0) AS l
         |  FROM planted),
         |sent AS (
         |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS idx, l[i] AS s
         |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
         |        FROM ss)),
         |spans AS (
         |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS idx,
         |    ${sqlH31(spanExpr)} AS h1,
         |    ${sqlH31(s"$spanExpr || '#'")} AS h2
         |  FROM (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i
         |        FROM ss)),
         |occ AS (
         |  SELECT doc_id, idx,
         |    COUNT(*) OVER (PARTITION BY h1, h2) AS occ,
         |    ROW_NUMBER() OVER (PARTITION BY h1, h2
         |      ORDER BY doc_id, idx) AS rn
         |  FROM spans),
         |drops AS (
         |  SELECT DISTINCT o.doc_id, o.idx + dd.d AS idx
         |  FROM occ o, (SELECT unnest(range(0, 3)) AS d) dd
         |  WHERE o.occ > 1 AND o.rn > 1),
         |kept AS (
         |  SELECT s.doc_id, s.idx, s.s FROM sent s
         |  LEFT JOIN drops d ON d.doc_id = s.doc_id AND d.idx = s.idx
         |  WHERE d.doc_id IS NULL),
         |ka AS (
         |  SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
         |    array_to_string(list(s ORDER BY idx), ' ') AS kept_text
         |  FROM kept GROUP BY doc_id),
         |ta AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_sentences
         |       FROM ss)
         |SELECT t.doc_id, t.n_sentences,
         |  t.n_sentences - coalesce(k.n_kept, 0) AS n_dropped,
         |  coalesce(k.kept_text, '') AS kept_text
         |FROM ta t LEFT JOIN ka k USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val planted = array_join(
        transform(TextAnalysis.tokens(col("text")),
          t => concat(t,
            when(TextAnalysis.tokenHash31(t) % 5 === 0, lit("."))
              .otherwise(lit("")))),
        " ")
      Dedup.spanDedup(
          Tables.documents(s, d).select(col("doc_id"), planted.as("__p")),
          "doc_id", "__p")
        .orderBy("doc_id")
    },

    // 4. SimHash: 24-bit bitwise-majority signature; hamming-0 pairs
    QueryDef("dedup_simhash_pairs", {
      val bits = (0 until 24).map { j =>
        s"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $j) & 1) = 1)) >= len(hs) THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, list_transform($sqlToks, t -> ${sqlH31("t")}) AS hs
         |  FROM documents),
         |s AS (SELECT doc_id, ($bits)::BIGINT AS simhash FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash
         |FROM s a JOIN s b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      val sh = Dedup.simhashFromIndex(
        Dedup.tokenIndex(Tables.documents(s, d), "doc_id", "text", 1), 24)
      sh.select(col("id").as("id_a"), col("simhash"))
        .join(sh.select(col("id").as("id_b"),
          col("simhash").as("simhash_b")),
          col("simhash") === col("simhash_b") && col("id_a") < col("id_b"))
        .select("id_a", "id_b", "simhash")
        .orderBy("id_a", "id_b")
    },

    // 5. embedding-cosine near-dup dedup: drop every document that has a
    // lower-id neighbour at quantized cosine >= 0.35 (vec_id == doc_id in
    // the fixtures); exact pair set via the codegen'd integer dot product
    QueryDef("dedup_embedding_survivors",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a, e b
        |  WHERE a.vec_id < b.vec_id
        |    AND CAST(list_sum(list_transform(
        |          range(1, least(len(a.q), len(b.q)) + 1),
        |          i -> a.q[i] * b.q[i])) AS DOUBLE)
        |        / sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE)
        |               * CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE))
        |        >= 0.35)
        |SELECT d.doc_id, d.lang FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val pairs = graft.ext.Similarity
        .bruteForcePairs(Tables.embeddings(s, d), threshold = 0.35)
        .select(col("id_b").as("doc_id"))
      Tables.documents(s, d)
        .join(pairs, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // 6. exact n-gram Jaccard similarity join (n=1: the fixture's dups are
    // reorderings, so unigram sets carry the signal; n=3 shingles are
    // exercised in DedupSpec with planted ordered dups)
    QueryDef("dedup_jaccard_pairs",
      s"""WITH $sqlJaccardEnCtes
        |SELECT id_a, id_b, inter, un, jaccard
        |FROM jp ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.jaccardPairs(
          Tables.documents(s, d).filter(col("lang") === "en"),
          "doc_id", "text", n = 1, threshold = 0.9)
        .orderBy("id_a", "id_b")
    },

    // 6b. the same exact Jaccard join via PPJoin prefix filtering:
    // candidates only from each doc's rarest (1-t)-fraction of tokens
    // under a global rare-first canonical order. Called by name: on
    // this vocabulary jaccardPairs takes its bitset leg, so this query
    // is the oracle check (same oracle shape) of the leg jaccardPairs
    // takes above 4096 shingles. Graded on a bounded slice: prefix
    // filtering pays off in proportion to vocabulary size (real
    // corpora: 10^6+ tokens, prefixes hit the Zipf tail), and the
    // fixture's ~31-token vocabulary is its structural worst case —
    // EVERY token is hot, so prefixes cannot prune and candidate volume
    // reverts to quadratic (SCALE.md §8c; the differentials on both
    // sides of 4096 live in DedupSpec).
    QueryDef("dedup_jaccard_prefix",
      s"""WITH $sqlJaccardPrefixCtes
        |SELECT id_a, id_b, inter, un, jaccard
        |FROM jp ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.jaccardPairsPrefix(
          Tables.documents(s, d)
            .filter(col("lang") === "en" && col("doc_id") < 200),
          "doc_id", "text", n = 1, threshold = 0.9)
        .orderBy("id_a", "id_b")
    },

    // 7. near-dup CLUSTERS: transitive closure of the J>=0.9 pair graph
    // (pairs (a,b),(b,c) collapse to one cluster; survivor = min doc_id).
    // Spark: iterative min-label propagation + pointer jumping
    // (ops.ConnectedComponents); oracle: recursive-CTE reachability —
    // an independent algorithm for the same fixpoint.
    QueryDef("dedup_cluster_assign",
      s"""WITH RECURSIVE $sqlJaccardEnCtes,
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM jp
        |  UNION SELECT id_b, id_a FROM jp),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |  WHERE e.v <> r.u),
        |comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_rep
        |  FROM reach GROUP BY u),
        |assign AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep
        |  FROM d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        |sizes AS (
        |  SELECT cluster_rep, COUNT(*) AS cluster_size
        |  FROM assign GROUP BY 1)
        |SELECT a.doc_id, a.cluster_rep, s.cluster_size
        |FROM assign a JOIN sizes s ON s.cluster_rep = a.cluster_rep
        |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("lang") === "en")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 1, threshold = 0.9)
      graft.ops.ConnectedComponents
        .assignClusters(docs, "doc_id", pairs, "id_a", "id_b")
        .orderBy("doc_id")
    },

    // cluster-representative selection policy: per near-dup cluster
    // keep the LONGEST member (n_chars, ties to smallest id) — the
    // production keep-policy beside the min-id convention, as one
    // cluster-keyed max-struct agg (no window). Same cluster CTEs as
    // dedup_cluster_assign; the oracle arbitrates via row_number.
    QueryDef("dedup_best_in_cluster",
      s"""WITH RECURSIVE $sqlJaccardEnCtes,
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM jp
        |  UNION SELECT id_b, id_a FROM jp),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |  WHERE e.v <> r.u),
        |comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_rep
        |  FROM reach GROUP BY u),
        |assign AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep
        |  FROM d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        |q AS (
        |  SELECT a.cluster_rep, a.doc_id, doc.n_chars
        |  FROM assign a JOIN documents doc ON doc.doc_id = a.doc_id),
        |w AS (
        |  SELECT cluster_rep, doc_id, n_chars, row_number() OVER (
        |    PARTITION BY cluster_rep ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM q)
        |SELECT cluster_rep, doc_id, n_chars FROM w WHERE rn = 1
        |ORDER BY cluster_rep""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("lang") === "en")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 1, threshold = 0.9)
      val assign = graft.ops.ConnectedComponents
        .assignClusters(docs, "doc_id", pairs, "id_a", "id_b")
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      Dedup.bestInCluster(assign, "doc_id", "cluster_rep", "n_chars")
        .orderBy("cluster_rep")
    },

    // duplicate-count-weighted SOFT dedup: planted shared contents
    // (two boiler groups via doc_id mod 7) give count>1 groups whose
    // members survive iff h31(id) clears the 1000/count hash
    // threshold — zero RNG, so the oracle replays the exact survivor
    // set including the always-kept unique docs.
    QueryDef("dedup_soft_sample",
      """WITH src AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 7 <= 1 THEN 'shared boiler alpha'
        |    WHEN doc_id % 7 = 2 THEN 'shared boiler beta'
        |    ELSE text END AS t
        |  FROM documents),
        |c AS (SELECT md5(t) AS h, COUNT(*) AS dup_count
        |      FROM src GROUP BY 1),
        |j AS (SELECT doc_id, dup_count FROM src
        |      JOIN c ON md5(src.t) = c.h)
        |SELECT doc_id, dup_count FROM j
        |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |    ::BIGINT % 2147483647 % 1000 < 1000 // dup_count
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val content = when(col("doc_id") % 7 <= 1, lit("shared boiler alpha"))
        .when(col("doc_id") % 7 === 2, lit("shared boiler beta"))
        .otherwise(col("text"))
      Dedup.softDedupSample(
          Tables.documents(s, d).select(col("doc_id"), content.as("text")),
          "doc_id", "text")
        .select(col("doc_id"), col("dup_count"))
        .orderBy("doc_id")
    },

    // majority label propagation (2 synchronous rounds) on the exact
    // unigram-Jaccard similarity graph — community detection that,
    // unlike connected components, doesn't merge dense groups across a
    // weak bridge. Deterministic (ties -> smallest label), so the
    // round-unrolled SQL oracle reproduces it exactly.
    QueryDef("graph_label_prop",
      s"""WITH $sqlJaccardEnCtes,
        |e AS (
        |  SELECT id_a AS u, id_b AS v FROM jp
        |  UNION ALL SELECT id_b, id_a FROM jp),
        |l0 AS (SELECT doc_id AS id, doc_id AS label FROM d),
        |m1 AS (
        |  SELECT e.u, l.label, COUNT(*) AS cnt
        |  FROM e JOIN l0 l ON l.id = e.v GROUP BY 1, 2),
        |b1 AS (
        |  SELECT u, label FROM (
        |    SELECT u, label, ROW_NUMBER() OVER (
        |      PARTITION BY u ORDER BY cnt DESC, label) AS rk FROM m1)
        |  WHERE rk = 1),
        |l1 AS (
        |  SELECT l0.id, COALESCE(b1.label, l0.label) AS label
        |  FROM l0 LEFT JOIN b1 ON b1.u = l0.id),
        |m2 AS (
        |  SELECT e.u, l.label, COUNT(*) AS cnt
        |  FROM e JOIN l1 l ON l.id = e.v GROUP BY 1, 2),
        |b2 AS (
        |  SELECT u, label FROM (
        |    SELECT u, label, ROW_NUMBER() OVER (
        |      PARTITION BY u ORDER BY cnt DESC, label) AS rk FROM m2)
        |  WHERE rk = 1),
        |l2 AS (
        |  SELECT l1.id, COALESCE(b2.label, l1.label) AS label
        |  FROM l1 LEFT JOIN b2 ON b2.u = l1.id)
        |SELECT id AS doc_id, label AS community FROM l2
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("lang") === "en")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 1, threshold = 0.9)
      graft.ops.LabelPropagation
        .run(docs.select(col("doc_id"), col("doc_id").as("community")),
          "doc_id", "community", pairs, "id_a", "id_b", rounds = 2)
        .orderBy("doc_id")
    },

    // asymmetric containment join: quote/excerpt detection — pairs
    // where >= 95% of the contained doc's distinct tokens occur in the
    // container. Jaccard's size-compat pruning structurally discards
    // exactly these size-mismatched pairs; the one-sided size filter
    // here (container >= 0.95x contained) is the correct analog.
    // HONEST DOMAIN (the dedup_jaccard_prefix precedent): the probe
    // side is the src0 benchmark corpus vs everything else — the
    // contamination-audit shape — because on the fixture's ~31-token
    // universal vocabulary an all-vs-all containment join degenerates
    // to the quadratic candidate set (every token is corpus-hot; same
    // measured caveat as the PPJoin prefix query, SCALE.md §8c).
    QueryDef("dedup_containment_pairs",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents WHERE lang = 'en'),
        |i AS (
        |  SELECT doc_id, source, len(toks)::BIGINT AS n_sh,
        |    unnest(toks) AS shingle
        |  FROM d),
        |p AS (
        |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
        |         a.n_sh AS na, COUNT(*) AS inter
        |  FROM i a JOIN i b ON a.shingle = b.shingle
        |    AND a.doc_id <> b.doc_id
        |    AND a.n_sh * 9500 <= b.n_sh * 10000
        |  WHERE a.source = 'src0' AND b.source <> 'src0'
        |  GROUP BY 1, 2, 3)
        |SELECT contained_id, container_id, inter, na,
        |       CAST(inter AS DOUBLE) / na AS containment
        |FROM p WHERE CAST(inter AS DOUBLE) / na >= 0.95
        |ORDER BY contained_id, container_id""".stripMargin) { (s, d) =>
      val en = Tables.documents(s, d).filter(col("lang") === "en")
      Dedup.containmentPairsAcross(
          en.filter(col("source") === "src0"),
          en.filter(col("source") =!= "src0"),
          "doc_id", "text", n = 1, threshold = 0.95)
        .orderBy("contained_id", "container_id")
    },

    // exact triangle count per vertex on the near-dup graph (the local
    // clustering-coefficient numerator — distinguishes dense dup
    // cliques from chains that CC merges and label-prop splits).
    // Degree-ordered orientation (Suri-Vassilvitskii): every triangle
    // becomes exactly one closed wedge, wedge fan-out capped at O(√m)
    // out-degree — the skew story for scale-free graphs. Oracle mirrors
    // the same orientation algebraically.
    QueryDef("graph_triangles",
      s"""WITH $sqlJaccardEnCtes,
        |e AS (SELECT id_a AS a, id_b AS b FROM jp),
        |deg AS (
        |  SELECT u, COUNT(*) AS dg FROM (
        |    SELECT a AS u FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY u),
        |dir AS (
        |  SELECT
        |    CASE WHEN (da.dg < db.dg) OR (da.dg = db.dg AND e.a < e.b)
        |         THEN e.a ELSE e.b END AS src,
        |    CASE WHEN (da.dg < db.dg) OR (da.dg = db.dg AND e.a < e.b)
        |         THEN e.b ELSE e.a END AS dst
        |  FROM e
        |    JOIN deg da ON da.u = e.a
        |    JOIN deg db ON db.u = e.b),
        |dkey AS (
        |  SELECT dir.src, dir.dst, d.dg AS dd
        |  FROM dir JOIN deg d ON d.u = dir.dst),
        |wedges AS (
        |  SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
        |  FROM dkey w1 JOIN dkey w2 ON w1.src = w2.src
        |  WHERE (w1.dd < w2.dd) OR (w1.dd = w2.dd AND w1.dst < w2.dst)),
        |tri AS (
        |  SELECT x, y, z FROM wedges
        |  JOIN dir ON dir.src = wedges.y AND dir.dst = wedges.z)
        |SELECT node AS doc_id, COUNT(*) AS n_triangles FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |GROUP BY node ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("lang") === "en")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 1, threshold = 0.9)
      graft.ops.Triangles.perVertex(pairs, "id_a", "id_b")
        .withColumnRenamed("node", "doc_id")
        .orderBy("doc_id")
    },

    // k-core of the near-dup graph: the density filter CC/label-prop
    // can't express — every surviving doc keeps >= 3 neighbors INSIDE
    // the surviving set, so dup-cluster fringe peels away. Peeling is
    // monotone and idempotent at the fixpoint, so the oracle's FIXED
    // 16-round unroll equals the Spark side's iterate-to-fixpoint
    // (which fails loudly if 16 rounds wouldn't do).
    QueryDef("graph_kcore", {
      // every g{t-1} is referenced twice (degree agg + edge filter):
      // MATERIALIZED stops CTE inlining from exploding the plan into
      // 2^16 re-scans of the base table
      val rounds = (1 to 16).map { t =>
        s"""d$t AS (SELECT a, COUNT(*) AS d FROM g${t - 1} GROUP BY a),
           |al$t AS (SELECT a FROM d$t WHERE d >= 3),
           |g$t AS MATERIALIZED (
           |  SELECT g.a, g.b FROM g${t - 1} g
           |    JOIN al$t x ON x.a = g.a
           |    JOIN al$t y ON y.a = g.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlJaccardEnCtes,
         |g0 AS MATERIALIZED (
         |  SELECT id_a AS a, id_b AS b FROM jp
         |  UNION ALL SELECT id_b, id_a FROM jp),
         |$rounds
         |SELECT a AS doc_id, COUNT(*) AS core_deg
         |FROM g16 GROUP BY a ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("lang") === "en")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 1, threshold = 0.9)
      graft.ops.KCore.core(pairs, "id_a", "id_b", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // contrastive training triplets: every near-dup pair (anchor,
    // positive) from the exact Jaccard graph gets 3 deterministic
    // hash-drawn negatives — candidates are h31(a-b-j) mod N for
    // j=1..5, kept if they name an EXISTING doc (semi-join, no id-
    // contiguity assumption) that isn't the anchor/positive, first 3
    // by j. No RNG anywhere: the same triplet set materializes under
    // any partitioning — the training-example generation step of a
    // contrastive/embedding pipeline.
    QueryDef("train_triplets",
      s"""WITH $sqlJaccardEnCtes,
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |cand AS (
        |  SELECT jp.id_a AS anchor, jp.id_b AS positive, j.j,
        |    ${sqlH31("jp.id_a::VARCHAR || '-' || jp.id_b::VARCHAR " +
             "|| '-' || j.j::VARCHAR")} % n.n_docs AS negative
        |  FROM jp CROSS JOIN n
        |  CROSS JOIN (SELECT unnest(range(1, 6)) AS j) j),
        |ok AS (
        |  SELECT c.anchor, c.positive, c.j, c.negative
        |  FROM cand c JOIN documents dd ON dd.doc_id = c.negative
        |  WHERE c.negative <> c.anchor AND c.negative <> c.positive),
        |r AS (
        |  SELECT anchor, positive, negative,
        |    ROW_NUMBER() OVER (PARTITION BY anchor, positive
        |      ORDER BY j) AS neg_rank
        |  FROM ok)
        |SELECT anchor, positive, neg_rank, negative FROM r
        |WHERE neg_rank <= 3
        |ORDER BY anchor, positive, neg_rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val pairs = Dedup.jaccardPairs(
          docs.filter(col("lang") === "en"), "doc_id", "text",
          n = 1, threshold = 0.9)
        .select(col("id_a").as("anchor"), col("id_b").as("positive"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val js = docs.sparkSession.range(1, 6)
        .select(col("id").cast("int").as("j"))
      val cand = pairs.crossJoin(broadcast(n))
        .crossJoin(broadcast(js))
        .withColumn("negative",
          TextAnalysis.tokenHash31(concat(
            col("anchor").cast("string"), lit("-"),
            col("positive").cast("string"), lit("-"),
            col("j").cast("string"))) % col("n_docs"))
        .filter(col("negative") =!= col("anchor") &&
          col("negative") =!= col("positive"))
        .join(docs.select(col("doc_id").as("negative")), Seq("negative"),
          "left_semi")
      cand
        .withColumn("neg_rank", row_number().over(
          Window.partitionBy("anchor", "positive").orderBy("j")))
        .filter(col("neg_rank") <= 3)
        .select(col("anchor"), col("positive"),
          col("neg_rank").cast("long").as("neg_rank"), col("negative"))
        .orderBy("anchor", "positive", "neg_rank")
    },

    // 11. END-TO-END LSH dedup pipeline: MinHash/LSH near-dup pairs
    // (profile defaults, J >= 0.95) -> connected components -> one
    // survivor (min doc_id) per cluster. The full corpus-in,
    // deduplicated-corpus-out composition a training pipeline runs;
    // oracle re-derives the fixpoint with recursive-CTE reachability
    // (an independent algorithm, as in dedup_cluster_assign).
    QueryDef("dedup_pipeline_survivors",
      s"""WITH RECURSIVE $sqlLshCtes,
        |lshp AS (
        |  SELECT id_a, id_b FROM j
        |  WHERE CAST(inter AS DOUBLE) / un >= 0.95),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM lshp
        |  UNION SELECT id_b, id_a FROM lshp),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |  WHERE e.v <> r.u),
        |comp AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS rep
        |  FROM reach GROUP BY u)
        |SELECT d.doc_id, d.lang FROM documents d
        |LEFT JOIN comp c ON c.doc_id = d.doc_id
        |WHERE COALESCE(c.rep, d.doc_id) = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        graft.ext.DedupProfile.default)
      graft.ops.ConnectedComponents
        .assignClusters(docs, "doc_id", pairs, "id_a", "id_b")
        .filter(col("doc_id") === col("cluster_rep"))
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // 9. incremental dedup: dedup a NEW batch (odd doc_ids) against the
    // HISTORICAL corpus (even doc_ids) by canonical token-set signature —
    // the production crawl-pipeline shape: signature anti-join, no pair
    // enumeration, nothing recomputed over the history
    QueryDef("dedup_incremental",
      """WITH h AS (
        |  SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(
        |    string_split(text, ' '))), ' ')) AS sig
        |  FROM documents WHERE doc_id % 2 = 0),
        |f AS (
        |  SELECT doc_id, lang, md5(array_to_string(list_sort(list_distinct(
        |    string_split(text, ' '))), ' ')) AS sig
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT doc_id, lang FROM f
        |WHERE sig NOT IN (SELECT sig FROM h)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.incrementalSurvivors(
          fresh = docs.filter(col("doc_id") % 2 === 1),
          corpus = docs.filter(col("doc_id") % 2 === 0),
          textCol = "text")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // 10. embedding near-dup survivors via the BANDED scale path: same
    // shape as dedup_embedding_survivors but candidates come from
    // sign-LSH banding (no n² cross join) — the plan that survives 100×;
    // banding is deterministic, so the approximate pair set is too
    QueryDef("dedup_embedding_banded", {
      def sqlQz(e: String) =
        s"list_transform($e, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
      def bandExpr(b: Int): String =
        (0 until 8).foldLeft(s"${b}::BIGINT") { (acc, r) =>
          s"(($acc) * 2 + (CASE WHEN q[${b * 8 + r + 1}] >= 0 THEN 1 ELSE 0 END))"
        }
      val bands = (0 until 4).map(b => s"${bandExpr(b)} AS band_$b").mkString(",\n    ")
      s"""WITH e AS (
         |  SELECT vec_id, ${sqlQz("embedding")} AS q FROM embeddings),
         |k AS (
         |  SELECT vec_id, q,
         |    $bands
         |  FROM e),
         |banded AS (
         |  SELECT vec_id, q, unnest([band_0, band_1, band_2, band_3]) AS band
         |  FROM k),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    CAST(list_sum(list_transform(range(1, least(len(a.q), len(b.q)) + 1),
         |           i -> a.q[i] * b.q[i])) AS DOUBLE)
         |      / sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE)
         |             * CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE))
         |      AS score
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.vec_id < b.vec_id),
         |dropped AS (
         |  SELECT DISTINCT id_b FROM pairs WHERE score >= 0.35)
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM dropped p WHERE p.id_b = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      val dropped = graft.ext.Similarity
        .bandedPairs(Tables.embeddings(s, d), threshold = 0.35,
          bands = 4, rowsPerBand = 8)
        .select(col("id_b").as("doc_id")).distinct()
      Tables.documents(s, d)
        .join(dropped, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // 8. sorted-neighborhood dedup (Hernández–Stolfo): sort by SimHash,
    // compare only docs within 10 ordinal positions, exact-Jaccard
    // re-rank. Bounded comparisons (|corpus|×w, not all pairs); the
    // oracle reproduces the identical candidate set via row_number.
    QueryDef("dedup_sorted_neighborhood", {
      val bits = (0 until 24).map { j =>
        s"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $j) & 1) = 1)) >= len(hs) THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks,
         |         list_transform($sqlToks, t -> ${sqlH31("t")}) AS hs
         |  FROM documents WHERE lang = 'en' AND text IS NOT NULL),
         |s AS (SELECT doc_id, toks, ($bits)::BIGINT AS simhash FROM t),
         |o AS (SELECT doc_id, toks,
         |        ROW_NUMBER() OVER (ORDER BY simhash, doc_id) AS r
         |      FROM s),
         |cand AS (
         |  SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
         |         GREATEST(a.doc_id, b.doc_id) AS id_b,
         |         a.toks AS ta, b.toks AS tb
         |  FROM o a JOIN o b ON b.r > a.r AND b.r - a.r <= 10),
         |j AS (
         |  SELECT id_a, id_b,
         |    len(list_intersect(ta, tb))::BIGINT AS inter,
         |    (len(ta) + len(tb) - len(list_intersect(ta, tb)))::BIGINT AS un
         |  FROM cand)
         |SELECT id_a, id_b, inter, un,
         |       CAST(inter AS DOUBLE) / un AS jaccard
         |FROM j WHERE CAST(inter AS DOUBLE) / un >= 0.9
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      Dedup.sortedNeighborhoodPairs(
          Tables.documents(s, d).filter(col("lang") === "en"),
          "doc_id", "text", window = 10, threshold = 0.9)
        .orderBy("id_a", "id_b")
    },

    // exact cross-document SUBSTRING dedup (Lee et al. 2022
    // ExactSubstr): every >= 8-token run appearing in more than one
    // document is REMOVED everywhere except the min-id keeper, and the
    // survivors reassemble in token order — removal, not just the span
    // stats of text_dup_spans. The oracle replays shingling (list_slice
    // windows), the keeper aggregate, window->position coverage, the
    // anti join, and ordered reassembly token-for-token.
    QueryDef("text_substring_dedup",
      s"""WITH arr AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |st AS (
         |  SELECT doc_id, t,
         |    unnest(range(0, greatest(len(t) - 7, 0))) AS start
         |  FROM arr),
         |sh AS (
         |  SELECT doc_id, start,
         |    array_to_string(list_slice(t, start + 1, start + 8), ' ') AS h
         |  FROM st),
         |dup AS (
         |  SELECT h, MIN(doc_id) AS keeper
         |  FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         |rm AS (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT s.doc_id, unnest(range(s.start, s.start + 8)) AS pos
         |    FROM sh s JOIN dup d ON d.h = s.h AND s.doc_id <> d.keeper)),
         |toks AS (
         |  SELECT doc_id, unnest(range(0, len(t))) AS pos,
         |    unnest(t) AS tok
         |  FROM arr),
         |kept AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM toks t
         |  LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.pos = t.pos
         |  WHERE rm.pos IS NULL),
         |agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT a.doc_id, CAST(len(a.t) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(g.n_kept, 0) AS BIGINT) AS n_kept,
         |  COALESCE(g.clean_text, '') AS clean_text
         |FROM arr a LEFT JOIN agg g ON g.doc_id = a.doc_id
         |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      Dedup.substringDedup(Tables.documents(s, d), "doc_id", "text",
          minTokens = 8)
        .orderBy("doc_id")
    },

    // UNBOUNDED-length exact substring dedup — Lee et al.'s ACTUAL
    // ExactSubstr construction (suffix array via distributed prefix
    // doubling + LCP-by-doubling; see graft.ext.SuffixArray) next to
    // the fixed-L gram approximation above. Reports the EXACT maximal
    // extent of every substring of >= 20 CHARACTERS occurring at two
    // or more (doc, offset) positions anywhere in the graded shard
    // (src0 — ExactSubstr runs per shard in Lee et al.'s own
    // pipeline; the construction itself is corpus-scale: every step
    // is a keyed shuffle). The oracle uses the provable equivalence:
    // the union of repeated-20-gram intervals equals the union of
    // [pos, pos + longest-repeated-prefix) over positions whose
    // longest repeated prefix is >= 20 (if a span of length M >= 20
    // repeats, all M-19 of its 20-gram starts repeat, and
    // conversely) — so the gram-merge SQL grades the suffix-array
    // spans exactly, while the Spark side never materializes gram
    // strings at all. Same interval-merge rule both sides (touching
    // intervals coalesce), so every span boundary is hash-graded.
    QueryDef("dedup_suffix_spans",
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i + 1 AS INT), 20) AS gram
        |  FROM (SELECT doc_id, text,
        |      unnest(range(0, greatest(coalesce(length(text), 0) - 19,
        |        0))) AS i
        |    FROM documents WHERE source = 'src0')),
        |r AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |p AS (SELECT doc_id, pos FROM g JOIN r USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(MAX(pos + 20) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS brk
        |  FROM p),
        |g2 AS (
        |  SELECT doc_id, pos, SUM(brk) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS island
        |  FROM isl)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos + 20) - MIN(pos) AS BIGINT) AS span_len
        |FROM g2 GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      graft.ext.SuffixArray.duplicatedSpans(
          Tables.documents(s, d).filter(col("source") === "src0"),
          "doc_id", "text", minLen = 20)
        .select(col("id").as("doc_id"), col("span_start"),
          col("span_len"))
        .orderBy("doc_id", "span_start")
    },

    // The REMOVAL half of ExactSubstr: Lee et al. cut EVERY
    // occurrence of a duplicated span (no keeper — unlike the
    // gram-dedup's keep-first), so the cleaned corpus contains each
    // long substring at most implicitly via shorter-than-threshold
    // remnants. Spark side reassembles each document from the
    // BETWEEN-span segments of the suffix-array spans (zip_with over
    // the sorted span list — per-doc work bounded by span count, no
    // char-level explode); the oracle removes covered CHARACTER
    // positions derived from repeated grams and reassembles
    // char-by-char — two different constructions that must agree on
    // every byte of every cleaned document.
    QueryDef("dedup_suffix_removal",
      """WITH d AS (
        |  SELECT doc_id, coalesce(text, '') AS text
        |  FROM documents WHERE source = 'src0'),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i + 1 AS INT), 20) AS gram
        |  FROM (SELECT doc_id, text,
        |      unnest(range(0, greatest(length(text) - 19, 0))) AS i
        |    FROM d)),
        |r AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |p AS (SELECT doc_id, pos FROM g JOIN r USING (gram)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + o AS i
        |  FROM p, unnest(range(0, 20)) AS t(o)),
        |ch AS (
        |  SELECT doc_id, CAST(j AS BIGINT) AS i,
        |    substr(text, CAST(j + 1 AS INT), 1) AS c
        |  FROM (SELECT doc_id, text,
        |      unnest(range(0, length(text))) AS j FROM d)),
        |kept AS (
        |  SELECT ch.doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(c, '' ORDER BY ch.i) AS clean_text
        |  FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id
        |    AND cov.i = ch.i
        |  WHERE cov.i IS NULL GROUP BY ch.doc_id)
        |SELECT d.doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(clean_text, '') AS clean_text
        |FROM d LEFT JOIN kept USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .filter(col("source") === "src0")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val spans = graft.ext.SuffixArray.duplicatedSpans(
        docs, "doc_id", "text", minLen = 20)
      graft.ext.SuffixArray.removeSpans(docs, "doc_id", "text", spans)
        .join(docs.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
        .select(col("doc_id"), col("n_chars"),
          length(col("clean_text")).cast("long").as("n_kept"),
          col("clean_text"))
        .orderBy("doc_id")
    },

    // CROSS-SHARD ExactSubstr — the honesty grade for Lee et al.'s
    // per-shard placement (SCALE.md §18/§19): per-shard suffix-array
    // jobs waive duplicates whose occurrences sit in DIFFERENT
    // shards, so production composes them with a cross-shard second
    // stage. Here the src0 slice splits into two shard slices
    // ((doc_id div 20) % 2 — src0 ids are multiples of 20), and a
    // passage of eight k-salted tokens (k = doc_id div 40, so the
    // pair 40k / 40k+20 lands in OPPOSITE shards) is planted on every
    // even-k pair: within a shard each passage occurs ONCE (the
    // k-digits interrupt any 20-char repeat across ks), so stage 1 —
    // one independent suffix-array spans+removal job per shard,
    // exactly the per-shard placement — must NOT touch it, while
    // stage 2 — the fixed-L token-gram pass (Dedup.substringDedup,
    // one corpus-wide keyed gram shuffle) over the union of shard
    // survivors — must cut it from the non-keeper. The oracle replays
    // both stages end to end (shard-keyed gram-interval removal via
    // the LCP ⇔ repeated-20-gram equivalence, then the 8-token
    // window/keeper/anti-join algebra over the stage-1 survivors):
    // a stage-1 span leaking across shards, a planted token removed
    // early, or a missed cross-shard cut flips a document's bytes and
    // the hash. Scale shape: stage 1 is per-shard (embarrassingly
    // parallel across shard jobs, each the §18-cost-modeled SA
    // construction); stage 2 is map-side shingling + one keyed
    // shuffle on gram hashes — the scale-safe composition.
    QueryDef("dedup_suffix_cross_shard",
      """WITH d0 AS (
        |  SELECT doc_id, (doc_id // 20) % 2 AS shard,
        |    coalesce(text, '') || CASE WHEN (doc_id // 40) % 2 = 0
        |      THEN ' xs' || k || 'a xs' || k || 'b xs' || k ||
        |        'c xs' || k || 'd xs' || k || 'e xs' || k ||
        |        'f xs' || k || 'g xs' || k || 'h'
        |      ELSE '' END AS text
        |  FROM (SELECT doc_id, text,
        |      CAST(doc_id // 40 AS VARCHAR) AS k
        |    FROM documents WHERE source = 'src0')),
        |g AS (
        |  SELECT shard, doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i + 1 AS INT), 20) AS gram
        |  FROM (SELECT shard, doc_id, text,
        |      unnest(range(0, greatest(length(text) - 19, 0))) AS i
        |    FROM d0)),
        |r AS (SELECT shard, gram FROM g GROUP BY shard, gram
        |      HAVING COUNT(*) >= 2),
        |p AS (SELECT doc_id, pos FROM g JOIN r USING (shard, gram)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + o AS i
        |  FROM p, unnest(range(0, 20)) AS t(o)),
        |ch AS (
        |  SELECT doc_id, CAST(j AS BIGINT) AS i,
        |    substr(text, CAST(j + 1 AS INT), 1) AS c
        |  FROM (SELECT doc_id, text,
        |      unnest(range(0, length(text))) AS j FROM d0)),
        |k1 AS (
        |  SELECT ch.doc_id, string_agg(c, '' ORDER BY ch.i) AS clean1
        |  FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id
        |    AND cov.i = ch.i
        |  WHERE cov.i IS NULL GROUP BY ch.doc_id),
        |c1 AS (
        |  SELECT d0.doc_id, d0.shard, length(d0.text) AS n_chars,
        |    coalesce(k1.clean1, '') AS clean1
        |  FROM d0 LEFT JOIN k1 ON k1.doc_id = d0.doc_id),
        |arr AS (SELECT doc_id, string_split(clean1, ' ') AS t FROM c1),
        |st AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, greatest(len(t) - 7, 0))) AS start
        |  FROM arr),
        |sh2 AS (
        |  SELECT doc_id, start,
        |    array_to_string(list_slice(t, start + 1, start + 8), ' ')
        |      AS h
        |  FROM st),
        |dup AS (
        |  SELECT h, MIN(doc_id) AS keeper
        |  FROM sh2 GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |rm AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT s.doc_id, unnest(range(s.start, s.start + 8)) AS pos
        |    FROM sh2 s JOIN dup d ON d.h = s.h
        |      AND s.doc_id <> d.keeper)),
        |toks AS (
        |  SELECT doc_id, unnest(range(0, len(t))) AS pos,
        |    unnest(t) AS tok
        |  FROM arr),
        |kept AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY t.pos) AS final_text
        |  FROM toks t LEFT JOIN rm ON rm.doc_id = t.doc_id
        |    AND rm.pos = t.pos
        |  WHERE rm.pos IS NULL GROUP BY t.doc_id)
        |SELECT c1.doc_id, CAST(c1.shard AS BIGINT) AS shard,
        |  CAST(c1.n_chars AS BIGINT) AS n_chars,
        |  CAST(length(c1.clean1) AS BIGINT) AS n_after_sa,
        |  CAST(len(a.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(k2.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(k2.final_text, '') AS final_text
        |FROM c1 JOIN arr a ON a.doc_id = c1.doc_id
        |LEFT JOIN kept k2 ON k2.doc_id = c1.doc_id
        |ORDER BY c1.doc_id""".stripMargin) { (s, d) =>
      val k = call_function("div", col("doc_id"), lit(40L))
        .cast("string")
      val plant = when(
        call_function("div", col("doc_id"), lit(40L)) % 2 === 0,
        concat(Seq("a", "b", "c", "d", "e", "f", "g", "h").map(sfx =>
          concat(lit(" xs"), k, lit(sfx))): _*))
        .otherwise(lit(""))
      val docs = Materialize(Tables.documents(s, d)
        .filter(col("source") === "src0")
        .select(col("doc_id"),
          (call_function("div", col("doc_id"), lit(20L)) % 2)
            .as("shard"),
          concat(coalesce(col("text"), lit("")), plant).as("text")),
        // read by two per-shard SA jobs + the final stats joins —
        // materialize the planted corpus once
        eager = false)
      // stage 1: one independent ExactSubstr job PER SHARD — Lee et
      // al.'s placement, composed instead of waived. The shard jobs
      // share nothing (that IS the placement), so submit them
      // concurrently: each drives its own prefix-doubling round loop
      // and the cluster interleaves their stages instead of idling
      // between one shard's driver round-trips.
      val shards = graft.ops.Concurrently(Seq(0L, 1L).map { sh => () =>
        val slice = docs.filter(col("shard") === sh)
          .select("doc_id", "text")
        val spans = graft.ext.SuffixArray.duplicatedSpans(
          slice, "doc_id", "text", minLen = 20)
        graft.ext.SuffixArray.removeSpans(slice, "doc_id", "text", spans)
      })
      // stage 2 + the final join both read it
      val survivors =
        Materialize(shards.reduce(_ unionByName _), eager = false)
      // stage 2: cross-shard fixed-L token-gram pass over the union
      // of shard survivors (keep-first; one keyed gram shuffle)
      val fin = graft.ext.Dedup.substringDedup(
        survivors, "doc_id", "clean_text", minTokens = 8)
      docs.select(col("doc_id"), col("shard").cast("long").as("shard"),
          length(col("text")).cast("long").as("n_chars"))
        .join(survivors.select(col("doc_id"),
          length(col("clean_text")).cast("long").as("n_after_sa")),
          Seq("doc_id"))
        .join(fin.select(col("doc_id"), col("n_tokens"),
          col("n_kept"), col("clean_text").as("final_text")),
          Seq("doc_id"))
        .orderBy("doc_id")
    },
  )
}
