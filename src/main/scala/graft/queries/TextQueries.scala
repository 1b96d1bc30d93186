package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.TextAnalysis
import graft.ops.Materialize
import org.apache.spark.sql.functions._

/** Text-analysis suite over `documents`: token statistics, quality
  * scoring, language-ID heuristic, fingerprinting, corpus token
  * frequencies. Ratios are single double divisions of exact integers, so
  * the oracle formulas (mirrored token-for-token) produce identical bits.
  */
object TextQueries {

  private def sqlH31(t: String): String = OracleSql.h31(t)

  private val sqlStop =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** `train_dpo_pairs`' pairing, shared verbatim with
    * `pipeline_dpo_shards` (the graded pairing query is the contract;
    * the shard query composes it). Semantics: adjacent doc_id pairs
    * within each source; higher bigram-LM micro-average wins, ties to
    * the smaller doc_id; odd tails drop. Scale shape: NO source-keyed
    * window — per-source ordinals come from the range-partitioned
    * [[graft.ops.PrefixSum.withGroupedRunningTotal]] (a 3-value window key
    * would sort ~corpus/3 rows in one task), and adjacent pairing is
    * a hash agg on the high-cardinality (source, ordinal div 2) key.
    * Returns (source, chosen_id, rejected_id, margin). */
  /** DSIR systematic resampling, shared by `text_dsir_resample` and
    * `pipeline_dsir_select`: weights quantized to integer micro-units
    * (+1 so every doc keeps mass), the running total over doc_id
    * order, and every doc whose cumulative interval (cum - w, cum]
    * contains a multiple of step = max(total / 50, 1). The scan returns
    * the total weight with the running totals, so the step is a driver
    * literal — re-aggregating the weights would execute the whole DSIR
    * weight pipeline a second time. Returns (doc_id, w, cum). */
  private def dsirResample(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wts = TextAnalysis.dsirWeights(docs,
      docs.filter(col("source").isin("src0", "src1")),
      "doc_id", "text", buckets = 256)
    val wi = wts.select(col("doc_id"),
      (floor(col("weight") * lit(1000000.0d)).cast("long") + lit(1L))
        .as("w"))
    val (cum, total) = graft.ops.PrefixSum.runningTotal(
      wi, "cum", col("w"), Seq(col("doc_id")))
    val step = math.max(total / 50, 1L)
    cum.filter(expr(s"cum div $step > (cum - w) div $step"))
      .select("doc_id", "w", "cum")
  }

  private[queries] def dpoPairsOf(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sc = TextAnalysis.lmScore(docs, "doc_id", "text",
        TextAnalysis.bigramModel(docs, "text"))
      .select(col("doc_id"),
        expr("lm_sum_micro div n_bigrams").as("avg_mi"))
    val orded = graft.ops.PrefixSum.withGroupedRunningTotal(
      docs.select(col("doc_id"), col("source")).join(sc, Seq("doc_id")),
      "__ord", Seq("source"), lit(1L), Seq(col("doc_id")))
    orded
      .withColumn("__pair",
        call_function("div", col("__ord") - 1L, lit(2L)))
      .groupBy("source", "__pair")
      .agg(count(lit(1)).as("__c"),
        // min/max by the struct's leading __ord field = the pair's
        // first (odd-ordinal) and second member
        min(struct(col("__ord"), col("doc_id"), col("avg_mi")))
          .as("__a"),
        max(struct(col("__ord"), col("doc_id"), col("avg_mi")))
          .as("__b"))
      .filter(col("__c") === 2) // odd tail has no partner
      .select(col("source"),
        when(col("__b.avg_mi") > col("__a.avg_mi"), col("__b.doc_id"))
          .otherwise(col("__a.doc_id")).as("chosen_id"),
        when(col("__b.avg_mi") > col("__a.avg_mi"), col("__a.doc_id"))
          .otherwise(col("__b.doc_id")).as("rejected_id"),
        abs(col("__a.avg_mi") - col("__b.avg_mi")).as("margin"))
  }

  val defs: Seq[QueryDef] = Seq(

    // per-document token statistics
    QueryDef("text_stats",
      """SELECT doc_id,
        |  length(text) AS text_len,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS distinct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).as("text_len"),
        TextAnalysis.nTokens(col("text")).as("n_tokens"),
        TextAnalysis.nDistinct(col("text")).as("n_distinct"),
        (TextAnalysis.nDistinct(col("text")).cast("double") /
          TextAnalysis.nTokens(col("text"))).as("distinct_ratio"))
        .orderBy("doc_id")
    },

    // quality scoring + stopword-based language heuristic
    QueryDef("text_quality",
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' '))::BIGINT AS nt,
         |    len(list_distinct(string_split(text, ' ')))::BIGINT AS nd,
         |    len(list_filter(string_split(text, ' '),
         |        t -> list_contains($sqlStop, t)))::BIGINT AS ns
         |  FROM documents)
         |SELECT doc_id, ns AS n_stopwords,
         |  CASE WHEN CAST(ns AS DOUBLE) / nt >= 0.05
         |       THEN 'en' ELSE 'other' END AS lang_pred,
         |  CAST(nd AS DOUBLE) / nt * 0.5
         |    + LEAST(1.0, CAST(nt AS DOUBLE) / 100.0) * 0.3
         |    + LEAST(1.0, CAST(ns AS DOUBLE) / nt * 5.0) * 0.2 AS quality
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.nStopwords(col("text")).as("n_stopwords"),
        TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    // order-sensitive rolling polynomial fingerprint
    QueryDef("text_fingerprint",
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(0::BIGINT,
         |      list_transform(string_split(text, ' '), t -> ${sqlH31("t")})),
         |    (acc, x) -> (acc * 31 + x) % ${TextAnalysis.HashPrime}) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },

    // corpus-level token frequency (explode + aggregate), top 20
    QueryDef("text_token_freq",
      """SELECT token, COUNT(*) AS freq,
        |       COUNT(DISTINCT doc_id) AS doc_freq
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY freq DESC, token LIMIT 20""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("freq"), countDistinct("doc_id").as("doc_freq"))
          .orderBy(col("freq").desc, col("token"))
          .limit(20)
    },

    // token-rarity quality signal: mean corpus frequency of a doc's
    // tokens (rare-token-dense docs score low) — a join of each doc's
    // token stream against the global frequency table, all exact integer
    // counts with one final double division
    QueryDef("text_rarity",
      """WITH tf AS (
        |  SELECT token, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |dt AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents)
        |SELECT dt.doc_id,
        |  COUNT(*) AS n_tokens,
        |  CAST(SUM(tf.freq) AS BIGINT) AS freq_mass,
        |  CAST(SUM(tf.freq) AS DOUBLE) / COUNT(*) AS mean_token_freq
        |FROM dt JOIN tf ON dt.token = tf.token
        |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      toks.join(tf, Seq("token"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("freq").cast("bigint").as("freq_mass"),
          (sum("freq").cast("double") / count(lit(1)))
            .as("mean_token_freq"))
        .orderBy("doc_id")
    },

    // per-language corpus profile (group + exact ratios)
    QueryDef("text_lang_profile",
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("bigint").as("total_chars"),
          sum(TextAnalysis.nTokens(col("text"))).cast("bigint")
            .as("total_tokens"))
        .orderBy("lang")
    },

    // KMV (bottom-k) distinct-token sketch per language, side by side
    // with the exact count it approximates. Bottom-16 of md5-derived
    // hashes — deterministic (no RNG), mergeable (partial agg keeps the
    // k smallest), and therefore exactly reproducible in the oracle —
    // unlike engine-specific HLL. est = (k-1)*M/h_k once >= k distinct.
    QueryDef("text_kmv_distinct",
      s"""WITH th AS (
        |  SELECT DISTINCT lang,
        |    (('0x' || substring(md5(token), 1, 15))::BIGINT % 2147483647) AS h
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |        FROM documents)),
        |r AS (
        |  SELECT lang, h,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
        |  FROM th),
        |k AS (
        |  SELECT lang, COUNT(*) AS n_kept, MAX(h) AS kth_hash
        |  FROM r WHERE rn <= 16 GROUP BY lang),
        |ex AS (SELECT lang, COUNT(*) AS exact_distinct FROM th GROUP BY lang)
        |SELECT k.lang, k.n_kept, k.kth_hash,
        |  CASE WHEN k.n_kept < 16 THEN CAST(k.n_kept AS DOUBLE)
        |       ELSE 15.0 * 2147483647.0 / CAST(k.kth_hash AS DOUBLE)
        |  END AS est_distinct,
        |  ex.exact_distinct
        |FROM k JOIN ex ON ex.lang = k.lang
        |ORDER BY k.lang""".stripMargin) { (s, d) =>
      val hashed = Tables.documents(s, d)
        .select(col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .select(col("lang"), TextAnalysis.tokenHash31(col("token")).as("h"))
      val sk = graft.ext.Sketches.kmvDistinct(hashed, Seq("lang"), "h", 16)
      val exact = hashed.distinct().groupBy("lang")
        .agg(count(lit(1)).as("exact_distinct"))
      sk.join(exact, Seq("lang"))
        .select("lang", "n_kept", "kth_hash", "est_distinct", "exact_distinct")
        .orderBy("lang")
    },

    // count-min sketch BUILD, the whole counter matrix oracle-checked:
    // every token occurrence fans into d=4 (row, column) cells through
    // the fixed affine permutations over the md5 token hash, then ONE
    // hash-aggregate — partial aggregation bounds the shuffle at d*w
    // counters per map partition no matter the corpus size (the sketch
    // is the 100 TB frequency-profiling shape; the exact per-token
    // count it approximates needs a token-keyed shuffle of the whole
    // vocabulary).
    QueryDef("text_cms_counters", {
      val vals = (0 until 4).map { j =>
        val (a, b) = graft.ext.Dedup.minhashPerm(j)
        s"($j, $a, $b)"
      }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT ${sqlH31("t")} AS h FROM (
         |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
         |cells AS (
         |  SELECT CAST(p.j AS BIGINT) AS row_j,
         |    ((p.a * h + p.b) % 2147483647) % 256 AS col_i
         |  FROM tok, (VALUES $vals) AS p(j, a, b))
         |SELECT row_j, col_i, COUNT(*) AS c
         |FROM cells GROUP BY row_j, col_i
         |ORDER BY row_j, col_i""".stripMargin
    }) { (s, d) =>
      val h = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .select(TextAnalysis.tokenHash31(col("t")).as("h"))
      graft.ext.Sketches.cmsCounters(h, "h", d = 4, w = 256)
        .orderBy("row_j", "col_i")
    },

    // count-min POINT ESTIMATES vs truth for the 20 hottest tokens
    // (deterministic top-k: count desc, token asc): est = min over the
    // d rows at the token's columns — never below the true count, above
    // it only by collision mass. The broadcast-sized top-k probes the
    // counter matrix with a keyed join; nothing quadratic anywhere.
    QueryDef("text_cms_estimate", {
      val vals = (0 until 4).map { j =>
        val (a, b) = graft.ext.Dedup.minhashPerm(j)
        s"($j, $a, $b)"
      }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT t, ${sqlH31("t")} AS h FROM (
         |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
         |cnt AS (
         |  SELECT t, MIN(h) AS h, COUNT(*) AS true_count
         |  FROM tok GROUP BY t),
         |top AS (
         |  SELECT t, h, true_count FROM cnt
         |  ORDER BY true_count DESC, t LIMIT 20),
         |cells AS (
         |  SELECT CAST(p.j AS BIGINT) AS row_j,
         |    ((p.a * h + p.b) % 2147483647) % 256 AS col_i,
         |    COUNT(*) AS c
         |  FROM tok, (VALUES $vals) AS p(j, a, b)
         |  GROUP BY 1, 2),
         |probe AS (
         |  SELECT top.t, top.true_count, cl.c
         |  FROM top, (VALUES $vals) AS p(j, a, b)
         |  JOIN cells cl
         |    ON cl.row_j = CAST(p.j AS BIGINT)
         |   AND cl.col_i = ((p.a * top.h + p.b) % 2147483647) % 256)
         |SELECT t AS token, true_count, MIN(c) AS est_count
         |FROM probe GROUP BY t, true_count
         |ORDER BY true_count DESC, token""".stripMargin
    }) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .select(col("t"), TextAnalysis.tokenHash31(col("t")).as("h"))
      val cnt = tok.groupBy("t")
        .agg(min("h").as("h"), count(lit(1)).as("true_count"))
      val top = cnt.orderBy(col("true_count").desc, col("t")).limit(20)
      val cells = graft.ext.Sketches.cmsCounters(tok, "h", d = 4, w = 256)
      val params = s.createDataFrame((0 until 4).map { j =>
        val (a, b) = graft.ext.Dedup.minhashPerm(j)
        (j.toLong, a, b)
      }).toDF("j", "a", "b")
      broadcast(top).crossJoin(broadcast(params))
        .join(cells,
          col("row_j") === col("j") &&
            col("col_i") === ((col("a") * col("h") + col("b"))
              % 2147483647L) % 256)
        .groupBy(col("t").as("token"), col("true_count"))
        .agg(min("c").as("est_count"))
        .orderBy(col("true_count").desc, col("token"))
    },

    // cross-document boilerplate removal over a planted multi-line
    // corpus: every doc gets a per-source nav line (~50 permil of docs
    // each), its body, a unique DOC line, and a global footer
    // (1000 permil). At the 40-permil threshold nav + footer strip,
    // body and DOC lines survive — template frequency vs content
    // frequency, decided by one line-keyed doc-frequency aggregate.
    QueryDef("text_boilerplate_strip",
      """WITH p AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    'NAV ' || source, text,
        |    'DOC ' || CAST(doc_id AS VARCHAR),
        |    'COPYRIGHT FOOTER 2026') AS full_text
        |  FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM p),
        |l AS (
        |  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos,
        |    unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(full_text, chr(10)) AS ls
        |        FROM p)),
        |fr AS (
        |  SELECT line, COUNT(*) AS dfr FROM (
        |    SELECT DISTINCT doc_id, line FROM l) GROUP BY line),
        |keep AS (
        |  SELECT l.doc_id, l.pos, l.line
        |  FROM l JOIN fr ON fr.line = l.line, nn
        |  WHERE fr.dfr * 1000 <= 40 * nn.n)
        |SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |  COUNT(*) AS n_kept
        |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat_ws("\n",
          concat(lit("NAV "), col("source")), col("text"),
          concat(lit("DOC "), col("doc_id").cast("string")),
          lit("COPYRIGHT FOOTER 2026")).as("full_text"))
      TextAnalysis.stripBoilerplate(planted, "doc_id", "full_text")
        .orderBy("doc_id")
    },

    // bigram LM likelihood proxy (CCNet's perplexity gate, kept
    // transcendental-free): model = corpus bigram transition counts;
    // each occurrence scores floor(1e6·cnt/prefix_cnt), docs aggregate
    // the integer sum + one final mean division. Lift is monotone in
    // log-likelihood, so the ranking matches a perplexity filter's.
    QueryDef("text_lm_score",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM t),
        |m AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
        |m2 AS (SELECT bigram, cnt, string_split(bigram, ' ')[1] AS w1
        |       FROM m),
        |pf AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS prefix_cnt
        |       FROM m2 GROUP BY w1),
        |mp AS (SELECT m2.bigram,
        |         CAST(floor(1000000.0 * cnt / prefix_cnt) AS BIGINT) AS p
        |       FROM m2 JOIN pf ON pf.w1 = m2.w1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(p) AS BIGINT) AS lm_sum_micro,
        |  CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE) / COUNT(*)
        |    AS lm_avg_micro
        |FROM bg JOIN mp ON mp.bigram = bg.bigram
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.lmScore(docs, "doc_id", "text",
          TextAnalysis.bigramModel(docs, "text"))
        .orderBy("doc_id")
    },

    // collocation mining without PMI's log: lift = N·c(xy)/(c(x·)·c(·y))
    // over first/second-position marginals — exact integer products, one
    // division, floor(1e6·) — ranks exactly like PMI (log is monotone).
    QueryDef("text_collocations",
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM t),
        |m AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
        |m2 AS (SELECT bigram, cnt, string_split(bigram, ' ')[1] AS w1,
        |         string_split(bigram, ' ')[2] AS w2 FROM m),
        |lx AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS cx
        |       FROM m2 GROUP BY w1),
        |rx AS (SELECT w2, CAST(SUM(cnt) AS BIGINT) AS cy
        |       FROM m2 GROUP BY w2),
        |nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_bg FROM m)
        |SELECT bigram, cnt,
        |  CAST(floor(cnt * n_bg * 1000000.0 / (cx * cy)) AS BIGINT)
        |    AS lift_micro
        |FROM m2 JOIN lx USING (w1) JOIN rx USING (w2), nn
        |WHERE cnt >= 5
        |ORDER BY lift_micro DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
      TextAnalysis.collocations(Tables.documents(s, d), "text",
        minCount = 5L, topK = 20)
    },

    // per-document token-distribution shape: Simpson concentration
    // (Σfᵢ²/n²) + hottest-token share — the integer-exact repetition
    // signals a Gopher-style quality filter thresholds on.
    QueryDef("text_diversity",
      """SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  CAST(list_sum(list_transform(
        |      list_distinct(string_split(text, ' ')),
        |      d -> len(list_filter(string_split(text, ' '),
        |             x -> x = d))::BIGINT
        |         * len(list_filter(string_split(text, ' '),
        |             x -> x = d)))) AS DOUBLE)
        |    / (len(string_split(text, ' '))::BIGINT
        |       * len(string_split(text, ' '))) AS simpson,
        |  CAST(list_max(list_transform(
        |      list_distinct(string_split(text, ' ')),
        |      d -> len(list_filter(string_split(text, ' '),
        |             x -> x = d))::BIGINT)) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS burstiness
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.diversityStats(Tables.documents(s, d), "doc_id",
          "text")
        .orderBy("doc_id")
    },

    // URL canonicalization + keep-first dedup (the crawl-frontier key):
    // planted messy variants — uppercase host, www., :443, trailing
    // slash, utm_* tracking params, fragments — collapse to one
    // canonical form; real query params survive. Canonicalize is a
    // map-only projection; dedup is one canonical-keyed hash-agg.
    QueryDef("text_url_dedup",
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://'
        |    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |    || upper(source) || '.EXAMPLE'
        |    || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
        |    || '/p/' || CAST(doc_id % 8 AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0 THEN '/'
        |            WHEN doc_id % 3 = 1 THEN '?utm_source=feed&ref='
        |              || CAST(doc_id % 2 AS VARCHAR)
        |            ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    regexp_replace(regexp_replace(
        |        lower(regexp_extract(url, '^[^/?#]*://[^/?#]*', 0)),
        |        '://www\.', '://', 'g'), ':(?:80|443)$', '', 'g')
        |    || regexp_replace(
        |         regexp_replace(regexp_replace(
        |           regexp_replace(
        |             regexp_replace(
        |               substring(url, length(
        |                 regexp_extract(url, '^[^/?#]*://[^/?#]*', 0))
        |                 + 1),
        |               '#.*', '', 'g'),
        |             '(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
        |           '\?&', '?', 'g'), '[?&]+$', '', 'g'),
        |         '/+$', '', 'g') AS canonical
        |  FROM u)
        |SELECT canonical, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT url) AS n_raw_variants,
        |  MIN(doc_id) AS keeper
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin) {
      (s, d) =>
      val u = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("HTTPS://"),
        when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
        upper(col("source")), lit(".EXAMPLE"),
        when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 8).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/"))
          .when(col("doc_id") % 3 === 1,
            concat(lit("?utm_source=feed&ref="),
              (col("doc_id") % 2).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit("")))
        .as("url"))
      u.withColumn("canonical", TextAnalysis.canonicalUrl(col("url")))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw_variants"),
          min(col("doc_id")).as("keeper"))
        .orderBy("canonical")
    },

    // deterministic train/val split: hash the doc id (md5-derived 31-bit,
    // the corpus-wide convention) mod 100 — reproducible on any engine,
    // any partitioning, any run; no rand(). 90/10 split profile per
    // language.
    QueryDef("text_train_split",
      s"""SELECT lang,
        |  CASE WHEN ${sqlH31("CAST(doc_id AS VARCHAR)")} % 100 < 90
        |       THEN 'train' ELSE 'val' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("split",
            when(TextAnalysis.tokenHash31(col("doc_id").cast("string"))
              % 100 < 90, "train").otherwise("val"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.nTokens(col("text"))).cast("bigint")
              .as("total_tokens"))
          .orderBy("lang", "split")
    },

    // Deterministic epoch shuffle + shard fan-out: the export stage a
    // trainer consumes. The permutation key is a pure (id, seed) hash
    // — map-only assignment, no global sort at any corpus size — and
    // the oracle replays the whole permutation (key arithmetic, shard
    // mod, tie-broken first/last doc of each shard's epoch order), so
    // a nondeterministic order, a biased shard mod, or a tie-break
    // slip hash-mismatches. 16 rows out regardless of corpus size.
    QueryDef("text_shard_plan",
      s"""WITH a AS (
        |  SELECT doc_id,
        |    ${sqlH31("CAST(doc_id AS VARCHAR) || '#epoch-1'")} AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, h % 16 AS shard_id,
        |    h * 10000000 + doc_id % 10000000 AS k, nt
        |  FROM a)
        |SELECT shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  arg_min(doc_id, k) AS first_doc,
        |  arg_max(doc_id, k) AS last_doc
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      graft.ops.ShardShuffle.manifest(Tables.documents(s, d), "doc_id",
          TextAnalysis.nTokens(col("text")), seed = "epoch-1",
          numShards = 16)
        .orderBy("shard_id")
    },

    // FLAGSHIP composition — the full training-data export pipeline in
    // one query: exact dedup (keep-first) -> per-language bottom-decile
    // quality prune (threshold computed over the survivors) -> pack
    // into 4096-token bins in corpus order via the distributed prefix
    // sum. Corpus in, ready-to-train manifest out.
    QueryDef("pipeline_export",
      s"""WITH keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |t AS (
         |  SELECT d.doc_id, d.lang,
         |    len(string_split(d.text, ' '))::BIGINT AS nt,
         |    len(list_distinct(string_split(d.text, ' ')))::BIGINT AS nd,
         |    len(list_filter(string_split(d.text, ' '),
         |        t -> list_contains($sqlStop, t)))::BIGINT AS ns
         |  FROM documents d JOIN keep k ON k.doc_id = d.doc_id),
         |s AS (
         |  SELECT doc_id, lang, nt AS n_tokens,
         |    CAST(nd AS DOUBLE) / nt * 0.5
         |      + LEAST(1.0, CAST(nt AS DOUBLE) / 100.0) * 0.3
         |      + LEAST(1.0, CAST(ns AS DOUBLE) / nt * 5.0) * 0.2 AS q
         |  FROM t),
         |thr AS (
         |  SELECT lang, quantile_cont(q, 0.1) AS q10 FROM s GROUP BY lang),
         |kept AS (
         |  SELECT s.doc_id, s.lang, s.n_tokens FROM s JOIN thr USING (lang)
         |  WHERE s.q >= thr.q10),
         |r AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - n_tokens AS BIGINT) AS start_offset
         |  FROM kept)
         |SELECT doc_id, lang, n_tokens, start_offset,
         |       CAST(FLOOR(CAST(start_offset AS DOUBLE) / 4096) AS BIGINT)
         |         AS bin
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val keep = graft.ext.Dedup.keepFirstExact(docs, "doc_id", "text")
        .select("doc_id")
      val scored = docs.join(keep, Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.nTokens(col("text")).as("n_tokens"))
      val thr = scored.groupBy("lang")
        .agg(percentile(col("q"), lit(0.1)).as("q10"))
      val kept = scored.join(broadcast(thr), Seq("lang"))
        .filter(col("q") >= col("q10"))
        .select("doc_id", "lang", "n_tokens")
      graft.ops.PrefixSum.packIntoBins(kept, weight = col("n_tokens"),
          budget = 4096L, orderBy = Seq(col("doc_id")))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("start_offset"), col("bin").cast("bigint").as("bin"))
        .orderBy("doc_id")
    },

    // overlapping token-window chunking (64-token windows, stride 48):
    // the embedding/RAG prep transform — one generator per doc, chunk
    // hashes keep the oracle output compact
    QueryDef("text_chunking",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |x AS (
        |  SELECT doc_id, tk,
        |    unnest(range(0, ((len(tk) - 1) // 48) + 1)) AS chunk_idx
        |  FROM t),
        |c AS (
        |  SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_tok,
        |    tk[chunk_idx * 48 + 1 : least(chunk_idx * 48 + 64, len(tk))]
        |      AS chunk
        |  FROM x)
        |SELECT doc_id, chunk_idx, start_tok,
        |       len(chunk)::BIGINT AS n_chunk_tokens,
        |       md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      TextAnalysis.chunkDocs(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          col("n_chunk_tokens"), md5(col("chunk")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },

    // sequence packing: assign docs to 4096-token training bins by
    // cumulative token count in corpus order — the distributed prefix
    // sum (ops.PrefixSum: range partition + one scan of the sorted
    // partitions + driver offsets), NEVER a single-partition window
    QueryDef("text_packing",
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens AS BIGINT) AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |       CAST(FLOOR(CAST(start_offset AS DOUBLE) / 4096) AS BIGINT)
        |         AS bin
        |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.PrefixSum.packIntoBins(
          Tables.documents(s, d).select(col("doc_id"),
            TextAnalysis.nTokens(col("text")).as("n_tokens")),
          weight = col("n_tokens"), budget = 4096L,
          orderBy = Seq(col("doc_id")))
        .select(col("doc_id"), col("n_tokens"), col("start_offset"),
          col("bin").cast("bigint").as("bin"))
        .orderBy("doc_id")
    },

    // quality pruning: drop each language's bottom decile by composite
    // quality score — per-stratum exact percentile via hash agg (NOT a
    // per-stratum window), tiny threshold table broadcast back
    QueryDef("text_quality_prune",
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    len(string_split(text, ' '))::BIGINT AS nt,
         |    len(list_distinct(string_split(text, ' ')))::BIGINT AS nd,
         |    len(list_filter(string_split(text, ' '),
         |        t -> list_contains($sqlStop, t)))::BIGINT AS ns
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, lang,
         |    CAST(nd AS DOUBLE) / nt * 0.5
         |      + LEAST(1.0, CAST(nt AS DOUBLE) / 100.0) * 0.3
         |      + LEAST(1.0, CAST(ns AS DOUBLE) / nt * 5.0) * 0.2 AS q
         |  FROM t),
         |thr AS (
         |  SELECT lang, quantile_cont(q, 0.1) AS q10 FROM s GROUP BY lang)
         |SELECT s.doc_id, s.lang, s.q FROM s JOIN thr USING (lang)
         |WHERE s.q >= thr.q10
         |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      // persist: `scored` feeds BOTH the percentile aggregate and the
      // join probe — without it the tokenize+score pipeline runs twice
      // per execution. One row per doc; lifetime delegated to the
      // caller's clearCache (see Bench)
      val scored = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val thr = scored.groupBy("lang")
        .agg(percentile(col("q"), lit(0.1)).as("q10"))
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("q") >= col("q10"))
        .select("doc_id", "lang", "q")
        .orderBy("doc_id")
    },

    // QUALITY-THRESHOLD FRONTIER — the curation tradeoff curve a
    // pipeline team reads before picking a gate: for a sweep of
    // quality thresholds (500..900 permil), the kept document count,
    // kept token mass, kept quality mass and the corpus share that
    // survives. Quality is the composite qualityScore converted to
    // integral micro units (floor(1e6·q)) so the sweep's sums stay
    // deterministic under any partitioning — never a float sum over
    // the corpus. One scan: the score map pass explodes 5 threshold
    // rows per doc into one small keyed agg; the total-mass row
    // broadcasts back for the share column.
    QueryDef("pipeline_quality_frontier",
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' '))::BIGINT AS nt,
         |    len(list_distinct(string_split(text, ' ')))::BIGINT AS nd,
         |    len(list_filter(string_split(text, ' '),
         |        t -> list_contains($sqlStop, t)))::BIGINT AS ns
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, nt,
         |    CAST(floor(1000000.0 * (CAST(nd AS DOUBLE) / nt * 0.5
         |      + LEAST(1.0, CAST(nt AS DOUBLE) / 100.0) * 0.3
         |      + LEAST(1.0, CAST(ns AS DOUBLE) / nt * 5.0) * 0.2))
         |      AS BIGINT) AS qm
         |  FROM t),
         |tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS tt FROM q),
         |e AS (
         |  SELECT doc_id, nt, qm,
         |    unnest([350, 425, 500, 575, 650]) AS thr
         |  FROM q),
         |a AS (
         |  SELECT CAST(thr AS BIGINT) AS threshold_permil,
         |    CAST(COUNT(*) FILTER (qm >= thr * 1000) AS BIGINT)
         |      AS kept_docs,
         |    CAST(COALESCE(SUM(nt) FILTER (qm >= thr * 1000), 0)
         |      AS BIGINT) AS kept_tokens,
         |    CAST(COALESCE(SUM(qm) FILTER (qm >= thr * 1000), 0)
         |      AS BIGINT) AS kept_q_micro
         |  FROM e GROUP BY thr)
         |SELECT a.threshold_permil, a.kept_docs, a.kept_tokens,
         |  a.kept_q_micro,
         |  CAST(1000 * a.kept_tokens // tot.tt AS BIGINT)
         |    AS share_permil
         |FROM a, tot ORDER BY a.threshold_permil""".stripMargin) {
      (s, d) =>
      val scored = Materialize(Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).as("nt"),
          floor(lit(1000000.0) *
            TextAnalysis.qualityScore(col("text")))
            .cast("long").as("qm")),
        // the sweep and the total both fold it — one scan
        eager = false)
      val tot = scored.agg(sum("nt").cast("long").as("tt"))
      val kept = col("qm") >= col("thr") * 1000L
      scored
        .select(col("nt"), col("qm"),
          explode(array(Seq(350L, 425L, 500L, 575L, 650L)
            .map(lit): _*)).as("thr"))
        .groupBy(col("thr").as("threshold_permil"))
        .agg(count(when(kept, lit(1))).as("kept_docs"),
          coalesce(sum(when(kept, col("nt"))), lit(0L)).cast("long")
            .as("kept_tokens"),
          coalesce(sum(when(kept, col("qm"))), lit(0L)).cast("long")
            .as("kept_q_micro"))
        .crossJoin(broadcast(tot))
        .select(col("threshold_permil"), col("kept_docs"),
          col("kept_tokens"), col("kept_q_micro"),
          call_function("div", lit(1000L) * col("kept_tokens"),
            col("tt")).as("share_permil"))
        .orderBy("threshold_permil")
    },

    // TOKEN-BUDGET selection — the frontier's EXACT-CUT sibling: keep
    // the best documents by composite quality until HALF the corpus'
    // token mass is spent (the greedy a "train on the best N tokens"
    // directive executes; the boundary document that crosses the
    // budget is included, the textbook greedy convention). The global
    // quality order runs through the range-partitioned PrefixSum —
    // (quality DESC, doc_id) is a corpus-scale total order and a
    // window over it would funnel the corpus into one task; the
    // running total costs one range exchange + one scan of the sorted
    // partitions + a driver offset fold, the same machinery as every
    // other global enumeration here. Graded per source: how many
    // documents and tokens survive and the worst quality admitted —
    // the selection's whole observable effect, one keyed agg over the
    // selected set.
    QueryDef("pipeline_budget_select",
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    len(string_split(text, ' '))::BIGINT AS nt,
         |    len(list_distinct(string_split(text, ' ')))::BIGINT AS nd,
         |    len(list_filter(string_split(text, ' '),
         |        t -> list_contains($sqlStop, t)))::BIGINT AS ns
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source, nt,
         |    CAST(floor(1000000.0 * (CAST(nd AS DOUBLE) / nt * 0.5
         |      + LEAST(1.0, CAST(nt AS DOUBLE) / 100.0) * 0.3
         |      + LEAST(1.0, CAST(ns AS DOUBLE) / nt * 5.0) * 0.2))
         |      AS BIGINT) AS qm
         |  FROM t),
         |r AS (
         |  SELECT doc_id, source, nt, qm,
         |    CAST(SUM(nt) OVER (ORDER BY qm DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
         |  FROM q),
         |tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS tt FROM q),
         |sel AS (
         |  SELECT r.* FROM r, tot WHERE r.running - r.nt < tot.tt // 2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sel,
         |  CAST(SUM(nt) AS BIGINT) AS sel_tokens,
         |  CAST(MIN(qm) AS BIGINT) AS worst_q_micro
         |FROM sel GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) =>
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.nTokens(col("text")).as("nt"),
          floor(lit(1000000.0) *
            TextAnalysis.qualityScore(col("text")))
            .cast("long").as("qm"))
      // the scan returns the corpus' token total with the running
      // totals; aggregating `scored` would run the whole nTokens /
      // qualityScore pipeline a second time
      val (ranked, total) = graft.ops.PrefixSum.runningTotal(scored,
        "running", weight = col("nt"),
        orderBy = Seq(col("qm").desc, col("doc_id")))
      ranked.filter(col("running") - col("nt") < lit(total / 2))
        .groupBy("source")
        .agg(count(lit(1)).as("n_sel"),
          sum("nt").cast("long").as("sel_tokens"),
          min("qm").cast("long").as("worst_q_micro"))
        .orderBy("source")
    },

    // duplicated 8-gram spans across documents: the exact-substring
    // duplication signal (boilerplate/template detection) — one shingle
    // pass per doc, one hash-agg keyed on the span; shuffle bounded by
    // distinct spans, never document pairs
    QueryDef("text_dup_spans",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |d AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(0, len(tk) - 7),
        |    i -> array_to_string(tk[i+1:i+8], ' '))) AS sh
        |  FROM toks),
        |x AS (SELECT doc_id, unnest(sh) AS span FROM d)
        |SELECT span, COUNT(*) AS n_docs,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM x GROUP BY span HAVING COUNT(*) > 1
        |ORDER BY span""".stripMargin) { (s, d) =>
      TextAnalysis.dupSpans(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy("span")
    },

    // deterministic stratified sampling: downsample the dominant stratum
    // (en at 30%) and keep the tail at 80% — hash-threshold selection,
    // zero shuffles, identical row set under any partitioning
    QueryDef("text_stratified_sample",
      s"""SELECT doc_id, lang, source FROM documents
        |WHERE ${sqlH31("CAST(doc_id AS VARCHAR)")} % 1000 <
        |  CASE WHEN lang = 'en' THEN 300 ELSE 800 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, d),
          "doc_id", "lang", Map("en" -> 300), defaultPermil = 800)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // the SQL entry path end-to-end: GraftExtensions-registered custom
    // Catalyst expressions (word_shingles, regexp_replace_first)
    // consumed through spark.sql over a temp view — proving the
    // engine's function surface serves SQL users identically to the
    // DataFrame API (same codegen'd expressions underneath)
    QueryDef("q40_sql_surface",
      """SELECT doc_id,
        |  len(list_distinct(list_transform(
        |    range(0, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))))
        |    ::BIGINT AS n_shingles,
        |  regexp_replace(text, ' ', '_') AS first_sep_replaced
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.GraftExtensions.register(s)
      Tables.documents(s, d).createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id,
        |  CAST(size(word_shingles(text, 3)) AS BIGINT) AS n_shingles,
        |  regexp_replace_first(text, ' ', '_') AS first_sep_replaced
        |FROM documents_v ORDER BY doc_id""".stripMargin)
    },

    // cross-source 5-gram overlap matrix: which sources share content
    // (the corpus-lineage question behind dedup priorities). Distinct
    // (source, shingle) pairs first — the hash-agg collapses each
    // source's repeats — then a shingle-keyed self-join counts shared
    // spans per source pair; shuffle is bounded by distinct shingles,
    // never document pairs.
    QueryDef("text_source_overlap",
      """WITH s AS (
        |  SELECT DISTINCT source, span FROM (
        |    SELECT source, unnest(list_distinct(list_transform(
        |      range(0, len(string_split(text, ' ')) - 4),
        |      i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' '))))
        |      AS span
        |    FROM documents))
        |SELECT a.source AS src_a, b.source AS src_b,
        |  COUNT(*) AS n_shared
        |FROM s a JOIN s b ON a.span = b.span AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val sh = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.WordShingles(col("text"), 5)).as("span"))
        .distinct()
      sh.select(col("source").as("src_a"), col("span"))
        .join(sh.select(col("source").as("src_b"), col("span").as("span_b")),
          col("span") === col("span_b") && col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("src_a", "src_b")
    },

    // per-source novelty curve: attribute every distinct 5-gram to its
    // FIRST source (min source name), then cumulate in source order —
    // the "how much new content does each source add" curation signal.
    // One shingle-keyed min-agg; the window runs over ~n_sources rows.
    QueryDef("text_novelty_curve",
      """WITH s AS (
        |  SELECT DISTINCT source, span FROM (
        |    SELECT source, unnest(list_distinct(list_transform(
        |      range(0, len(string_split(text, ' ')) - 4),
        |      i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' '))))
        |      AS span
        |    FROM documents)),
        |f AS (SELECT span, MIN(source) AS first_source FROM s GROUP BY 1),
        |n AS (SELECT first_source, COUNT(*) AS n_new FROM f GROUP BY 1)
        |SELECT first_source, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY first_source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_distinct
        |FROM n ORDER BY first_source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sh = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.WordShingles(col("text"), 5)).as("span"))
        .distinct()
      val w = Window.orderBy("first_source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sh.groupBy("span").agg(min("source").as("first_source"))
        .groupBy("first_source").agg(count(lit(1)).as("n_new"))
        .withColumn("cum_distinct", sum("n_new").over(w).cast("bigint"))
        .orderBy("first_source")
    },

    // epoch-mixture materialization: src0 (benchmark slice) dropped,
    // src1 upsampled 2.5x (whole part = 2 copies each, hash-selected
    // 50% get a third), everything else 1x — the data-mix recipe step,
    // one filter + one generator, zero shuffles at any corpus size
    QueryDef("text_mixture_epochs",
      s"""WITH w AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source = 'src0' THEN 0
        |         WHEN source = 'src1' THEN 2500 ELSE 1000 END AS permil
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    permil // 1000
        |      + (CASE WHEN ${sqlH31("CAST(doc_id AS VARCHAR)")} % 1000
        |              < permil % 1000 THEN 1 ELSE 0 END) AS n_repeats
        |  FROM w)
        |SELECT doc_id, source, n_repeats,
        |  unnest(range(0, n_repeats)) AS epoch_copy
        |FROM r WHERE n_repeats > 0
        |ORDER BY doc_id, epoch_copy""".stripMargin) { (s, d) =>
      TextAnalysis.epochMixture(Tables.documents(s, d), "doc_id",
          "source", Map("src0" -> 0, "src1" -> 2500), defaultPermil = 1000)
        .select("doc_id", "source", "n_repeats", "epoch_copy")
        .orderBy("doc_id", "epoch_copy")
    },

    // BM25 relevance against a literal query, fully oracle-exact:
    // transcendental-free RSJ idf (no ln) and FIXED-POINT score
    // accumulation (sum of floor(term*1e9) — integer, so partition
    // summation order cannot perturb the hash). One filtered hash-agg
    // for tf, one aggregate each for df and corpus stats, no window.
    QueryDef("text_bm25",
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' '))::BIGINT AS dl
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
        |  FROM tf JOIN dfq ON dfq.tok = tf.tok CROSS JOIN stats s)
        |SELECT doc_id, COUNT(*) AS n_hits,
        |  CAST(SUM(FLOOR(term * 1000000000.0)) AS BIGINT) AS score_fp
        |FROM term GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.bm25Scores(Tables.documents(s, d), "doc_id", "text",
          Seq("spark", "query", "window"))
        .orderBy("doc_id")
    },

    // content-defined chunking: boundaries where token-hash ≡ 0 mod 8
    // (the fixture's 31-token vocabulary has 3 boundary tokens at mod 8
    // and none at mod 16 — the modulus is the avg-chunk-length dial)
    // — chunk layout depends only on content, so an inserted sentence
    // shifts ONE chunk instead of re-slicing the document (the
    // dedup-robust alternative to fixed-stride text_chunking); chunk
    // identity is an order-independent hash-sum, so chunk-level dedup
    // joins need no text materialization
    QueryDef("text_cdc_chunks",
      s"""WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    unnest(range(0, len(string_split(text, ' ')))) AS pos
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, pos, ${sqlH31("tok")} AS h,
        |    CASE WHEN ${sqlH31("tok")} % 8 = 0 THEN 1 ELSE 0 END AS bnd
        |  FROM t),
        |c AS (
        |  SELECT doc_id, pos, h,
        |    CAST(COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS chunk_id
        |  FROM h)
        |SELECT doc_id, chunk_id, MIN(pos) AS start_pos,
        |  COUNT(*) AS n_tok,
        |  CAST(SUM(h) % ${TextAnalysis.HashPrime} AS BIGINT) AS chunk_hash
        |FROM c GROUP BY 1, 2
        |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      TextAnalysis.cdcChunks(Tables.documents(s, d), "doc_id", "text",
          modulus = 8)
        .orderBy("doc_id", "chunk_id")
    },

    // Gopher-style repetition filters: duplicate-bigram fraction and
    // top-bigram coverage per document, from ALL n-gram occurrences
    // (WordGrams, not the distinct WordShingles). Two keyed hash-aggs,
    // shuffle bounded by per-doc distinct grams — no pairs anywhere.
    QueryDef("text_dup_ngrams",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, len(tk) - 1),
        |    i -> tk[i+1] || ' ' || tk[i+2])) AS gram
        |  FROM toks),
        |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |  COUNT(*) AS n_distinct_grams,
        |  CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) AS dup_ratio,
        |  CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_coverage
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.dupNgramStats(Tables.documents(s, d), "doc_id", "text",
          n = 2)
        .orderBy("doc_id")
    },

    // top-3 TF-IDF terms per document with a transcendental-free IDF
    // (n_docs/doc_freq — IEEE division is bit-reproducible, ln is not)
    QueryDef("text_tfidf_top",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.dfreq,
        |    CAST(tf.tf AS DOUBLE)
        |      * (CAST(n.n_docs AS DOUBLE) / dfreq.dfreq) AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, token) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, token, tf, dfreq, score FROM r
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      TextAnalysis.tfIdfTop(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rk")
    },

    // corpus Zipf head: top-40 tokens with cumulative mass share; the
    // global window runs over 40 rows (after TakeOrderedAndProject),
    // never over the vocabulary
    QueryDef("text_zipf_head",
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM tf),
        |topk AS (SELECT token, freq FROM tf
        |         ORDER BY freq DESC, token LIMIT 40)
        |SELECT
        |  ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rnk,
        |  token, freq,
        |  CAST(SUM(freq) OVER (ORDER BY freq DESC, token
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_freq,
        |  CAST(SUM(freq) OVER (ORDER BY freq DESC, token
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / total AS head_mass
        |FROM topk CROSS JOIN tot ORDER BY rnk""".stripMargin) { (s, d) =>
      TextAnalysis.zipfHead(Tables.documents(s, d), "text", k = 40)
        .orderBy("rnk")
    },

    // benchmark decontamination: flag corpus docs sharing 5-gram shingles
    // with the src0 "benchmark" slice. The benchmark shingle set is
    // broadcast (eval suites are tiny next to a training corpus), so the
    // corpus side never shuffles before the per-doc hit aggregation.
    QueryDef("text_contamination",
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS tk
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source, list_distinct(list_transform(
        |    range(0, len(tk) - 4),
        |    i -> array_to_string(tk[i+1:i+5], ' '))) AS sh
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM d WHERE source = 'src0'),
        |t AS (
        |  SELECT doc_id, len(sh)::BIGINT AS n_sh, unnest(sh) AS shingle
        |  FROM d WHERE source <> 'src0'),
        |hits AS (
        |  SELECT t.doc_id, t.n_sh, COUNT(*) AS n_hits
        |  FROM t JOIN bench b ON b.shingle = t.shingle GROUP BY 1, 2)
        |SELECT doc_id, n_sh, n_hits,
        |       CAST(n_hits AS DOUBLE) / n_sh AS contamination
        |FROM hits ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Decontamination.ngramHits(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", n = 5)
        .select("doc_id", "n_sh", "n_hits", "contamination")
        .orderBy("doc_id")
    },

    // Bloom-filter decontamination — the scale path when the benchmark
    // shingle set is too large (or too sensitive) to broadcast as
    // rows: the eval side compresses to a 65536-bit double-hash bitmap
    // (bounded driver state riding the plan as a literal array), and
    // corpus membership is a map-only 3-probe with NO join on the
    // corpus side. All-integer hashing, so the oracle rebuilds the
    // identical bitmap and replays every probe — including any
    // deterministic false positives — and the exact n-gram hits ride
    // along so the no-false-negative superset law is graded per
    // document, not just asserted.
    QueryDef("text_contamination_bloom", {
      val h1 = sqlH31("shingle")
      val h2 = s"(2 * ${sqlH31("shingle || '#'")} + 1)"
      s"""WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS tk
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source, list_distinct(list_transform(
        |    range(0, len(tk) - 4),
        |    i -> array_to_string(tk[i+1:i+5], ' '))) AS sh
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM d
        |  WHERE source = 'src0'),
        |bp AS (
        |  SELECT DISTINCT ($h1 + i.range * $h2) % 65536 AS p
        |  FROM bench, range(3) i),
        |base AS (
        |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh, sh
        |  FROM d WHERE source <> 'src0'),
        |t AS (
        |  SELECT doc_id, n_sh, unnest(sh) AS shingle FROM base),
        |pr AS (
        |  SELECT doc_id, shingle, ($h1 + i.range * $h2) % 65536 AS p
        |  FROM t, range(3) i),
        |shok AS (
        |  SELECT doc_id, COUNT(*) AS bloom_hits FROM (
        |    SELECT doc_id, shingle FROM pr JOIN bp USING (p)
        |    GROUP BY doc_id, shingle HAVING COUNT(*) = 3)
        |  GROUP BY doc_id),
        |exact AS (
        |  SELECT doc_id, COUNT(*) AS n_hits
        |  FROM t JOIN bench USING (shingle) GROUP BY 1)
        |SELECT b.doc_id, b.n_sh,
        |  CAST(coalesce(e.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(s.bloom_hits, 0) AS BIGINT) AS bloom_hits,
        |  coalesce(s.bloom_hits, 0) > 0 AS flagged,
        |  coalesce(s.bloom_hits, 0) >= coalesce(e.n_hits, 0)
        |    AS superset_ok
        |FROM base b
        |LEFT JOIN exact e USING (doc_id)
        |LEFT JOIN shok s USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      import graft.ext.Decontamination
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("source") === "src0")
      val corpus = docs.filter(col("source") =!= "src0")
      val bits = Decontamination.bloomBits(bench, "text", n = 5,
        mBits = 65536, k = 3)
      val exact = Decontamination.ngramHits(corpus, "doc_id", "text",
          bench, "text", n = 5)
        .select(col("doc_id"), col("n_hits"))
      Decontamination.bloomFlags(corpus, "doc_id", "text", bits,
          mBits = 65536, k = 3, n = 5)
        .join(exact, Seq("doc_id"), "left_outer")
        .na.fill(0L, Seq("n_hits"))
        .select(col("doc_id"), col("n_sh"), col("n_hits"),
          col("bloom_hits"), col("flagged"),
          (col("bloom_hits") >= col("n_hits")).as("superset_ok"))
        .orderBy("doc_id")
    },

    // PII scan: per-category regexp counts over a corpus with PII
    // planted deterministically from doc_id (the fixture vocabulary has
    // none) — both dialects build the identical full_text, then count
    // with the same portable ASCII regexes (TextAnalysis.PiiPatterns;
    // Java regex ≡ RE2 on this subset). Narrow projection: a 100 TB
    // scan is map-only.
    QueryDef("text_pii_scan",
      s"""WITH p AS ($sqlPiiPlanted)
         |SELECT doc_id,
         |${TextAnalysis.PiiPatterns.map { case (label, pat, _) =>
              s"  CAST(len(regexp_extract_all(full_text, '$pat')) AS BIGINT) AS n_$label,"
            }.mkString("\n")}
         |${TextAnalysis.PiiPatterns.map { case (_, pat, _) =>
              s"CAST(len(regexp_extract_all(full_text, '$pat')) AS BIGINT)"
            }.mkString("  ", "\n  + ", " AS pii_total")}
         |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      plantPii(Tables.documents(s, d))
        .select(col("doc_id") +: TextAnalysis.piiCounts(col("full_text")): _*)
        .orderBy("doc_id")
    },

    // PII redaction: the same planted corpus, every category replaced in
    // the fixed PiiPatterns order (earlier categories claim spans first
    // — an email's digits can never re-match as a phone). String-exact
    // across engines; redaction of the corpus is a pure map job.
    QueryDef("text_pii_redact",
      s"""WITH p AS ($sqlPiiPlanted)
         |SELECT doc_id,
         |  ${TextAnalysis.PiiPatterns.foldLeft("full_text") {
              case (acc, (_, pat, repl)) =>
                s"regexp_replace($acc, '$pat', '$repl', 'g')"
            }} AS redacted
         |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      plantPii(Tables.documents(s, d))
        .select(col("doc_id"),
          TextAnalysis.piiRedact(col("full_text")).as("redacted"))
        .orderBy("doc_id")
    },

    // distribution drift between sources: pairwise total-variation
    // distance of unigram distributions at a fixed integer scale —
    // probabilities as (count·10^12) floor-div total (exact in both
    // engines), TV = Σ|pa−pb| div 2. Transcendental-free (the reason TV
    // is used over KL/JS here) and all sums int64-commutative. Shape:
    // two token-keyed hash-aggs + an S²/2 pair fan-out of the per-source
    // distribution (S = #sources, small; the token dimension, which is
    // the one that grows with corpus size, stays keyed and partial-agg'd).
    QueryDef("text_source_tv_drift",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |cnt AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
        |        FROM cnt GROUP BY 1),
        |p AS (
        |  SELECT c.source, c.t, (c.c * 1000000000000) // tot.n AS ps
        |  FROM cnt c JOIN tot ON tot.source = c.source),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |sp AS (
        |  SELECT a.source AS source_a, b.source AS source_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |pairsum AS (
        |  SELECT sp.source_a, sp.source_b, p.t,
        |    CAST(SUM(CASE WHEN p.source = sp.source_a
        |                  THEN p.ps ELSE 0 END) AS BIGINT) AS pa,
        |    CAST(SUM(CASE WHEN p.source = sp.source_b
        |                  THEN p.ps ELSE 0 END) AS BIGINT) AS pb
        |  FROM sp JOIN p ON p.source IN (sp.source_a, sp.source_b)
        |  GROUP BY 1, 2, 3)
        |SELECT source_a, source_b,
        |  CAST(SUM(ABS(pa - pb)) AS BIGINT) // 2 AS tv_scaled
        |FROM pairsum GROUP BY 1, 2
        |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val cnt = docs
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("t"))
        .groupBy("source", "t").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("source").agg(sum("c").as("n"))
      val p = cnt.join(tot, Seq("source"))
        .select(col("source").as("psrc"), col("t"),
          expr("(c * cast(1000000000000 as bigint)) div n").as("ps"))
      val srcs = docs.select("source").distinct()
      val sp = srcs.select(col("source").as("source_a"))
        .crossJoin(broadcast(srcs.select(col("source").as("source_b"))))
        .filter(col("source_a") < col("source_b"))
      broadcast(sp)
        .join(p, col("psrc") === col("source_a") ||
          col("psrc") === col("source_b"))
        .groupBy("source_a", "source_b", "t")
        .agg(
          sum(when(col("psrc") === col("source_a"), col("ps"))
            .otherwise(lit(0L))).as("pa"),
          sum(when(col("psrc") === col("source_b"), col("ps"))
            .otherwise(lit(0L))).as("pb"))
        .groupBy("source_a", "source_b")
        .agg(expr("sum(abs(pa - pb)) div 2").as("tv_scaled"))
        .orderBy("source_a", "source_b")
    },

    // quality-classifier APPLY: hashed-linear (fasttext-shaped) scoring
    // — each token occurrence hashes to one of 4096 weight buckets, the
    // doc score is the integer weight sum (weights from a deterministic
    // Knuth-hash formula so the oracle replays the model exactly; a
    // trained model swaps in as a broadcast (bucket, weight) table on
    // the same plan). explode → map-side partial sum → one doc-keyed agg.
    QueryDef("text_quality_classifier",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    ((${sqlH31("tok")} % 4096) * 2654435761) % 2001 - 1000 AS w
         |  FROM tok)
         |SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score_fp,
         |  CAST(SUM(w) AS BIGINT) >= 0 AS accept
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.scoreHashedLinear(Tables.documents(s, d),
          "doc_id", "text", dim = 4096)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // curation flagship #2 (pipeline_export's round-4 sibling, built
    // from THIS round's operators): PII-redact the planted corpus →
    // quality-classifier gate on the REDACTED text (the model must see
    // what training sees; the cutoff is the corpus MEDIAN score — a
    // self-calibrating keep-top-half policy, exact `percentile` ≡
    // `quantile_cont` per the q20 proof) → exact-dedup keep-first →
    // pack survivors into 4096-token training bins. Corpus in, curated
    // packed corpus out, one query.
    QueryDef("pipeline_curate",
      s"""WITH p AS ($sqlPiiPlanted),
         |r AS (
         |  SELECT doc_id,
         |    ${TextAnalysis.PiiPatterns.foldLeft("full_text") {
              case (acc, (_, pat, repl)) =>
                s"regexp_replace($acc, '$pat', '$repl', 'g')"
            }} AS clean
         |  FROM p),
         |tok AS (
         |  SELECT doc_id, unnest(string_split(clean, ' ')) AS tok FROM r),
         |sc AS (
         |  SELECT doc_id,
         |    CAST(SUM(((${sqlH31("tok")} % 4096) * 2654435761) % 2001
         |             - 1000) AS BIGINT) AS score_fp
         |  FROM tok GROUP BY doc_id),
         |kept AS (
         |  SELECT r.doc_id, r.clean, sc.score_fp
         |  FROM r JOIN sc USING (doc_id)
         |  WHERE sc.score_fp >= (SELECT quantile_cont(score_fp, 0.5)
         |                        FROM sc)),
         |surv AS (
         |  SELECT doc_id, clean, score_fp FROM (
         |    SELECT doc_id, clean, score_fp, ROW_NUMBER() OVER (
         |      PARTITION BY md5(clean) ORDER BY doc_id) AS rn
         |    FROM kept)
         |  WHERE rn = 1),
         |t AS (
         |  SELECT doc_id, score_fp,
         |    len(string_split(clean, ' '))::BIGINT AS n_tokens
         |  FROM surv),
         |rr AS (
         |  SELECT doc_id, score_fp, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - n_tokens AS BIGINT) AS start_offset
         |  FROM t)
         |SELECT doc_id, n_tokens, score_fp, start_offset,
         |  CAST(FLOOR(CAST(start_offset AS DOUBLE) / 4096) AS BIGINT)
         |    AS bin
         |FROM rr ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.ext.Dedup
      val red = plantPii(Tables.documents(s, d))
        .select(col("doc_id"),
          TextAnalysis.piiRedact(col("full_text")).as("clean"))
      val scoredAll = TextAnalysis.scoreHashedLinear(red, "doc_id",
          "clean", dim = 4096)
        .select(col("id").as("doc_id"), col("score_fp"))
      val med = scoredAll.agg(expr("percentile(score_fp, 0.5)").as("med"))
      val kept = red.join(scoredAll, Seq("doc_id"))
        .crossJoin(broadcast(med))
        .filter(col("score_fp") >= col("med")).drop("med")
      val survivors = kept.join(
        Dedup.keepFirstExact(kept, "doc_id", "clean").select("doc_id"),
        Seq("doc_id"), "left_semi")
      graft.ops.PrefixSum.packIntoBins(
          survivors.select(col("doc_id"), col("score_fp"),
            TextAnalysis.nTokens(col("clean")).as("n_tokens")),
          weight = col("n_tokens"), budget = 4096L,
          orderBy = Seq(col("doc_id")))
        .select(col("doc_id"), col("n_tokens"), col("score_fp"),
          col("start_offset"), col("bin").cast("bigint").as("bin"))
        .orderBy("doc_id")
    },

    // DSIR importance weights (Xie et al. 2023): score every raw doc by
    // the likelihood ratio of its hashed unigram+bigram bag under a
    // target domain (src0/src1) vs the whole corpus. Weight = product of
    // per-occurrence ratio terms, folded over the SORTED term array so
    // the sequential double product is bit-reproducible; each term is
    // ONE division of exact integer products (add-one smoothing over 256
    // hashed buckets). Both count tables are bounded at 256 rows and
    // broadcast — the only corpus-sized shuffle is the doc-id fold.
    QueryDef("text_dsir_weights",
      s"""WITH $sqlDsirWeightCtes
         |SELECT doc_id, n_feat, weight FROM wts
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.dsirWeights(docs,
          docs.filter(col("source").isin("src0", "src1")),
          "doc_id", "text", buckets = 256)
        .orderBy("doc_id")
    },

    // DSIR weights served from a MAINTAINED count store — the 100 TB
    // shape as the graded path (the text twin of ann_ivfpq_store): the
    // corpus's hash-bounded feature counts land in a batch-partitioned
    // parquet store (two pseudo-batches here), are merged back by exact
    // integer sum, and scoring runs against the merged table. The oracle is
    // text_dsir_weights' verbatim: counts-then-merge is sum-invariant,
    // so serving from the store is hash-identical to the one-shot path.
    QueryDef("text_dsir_store",
      s"""WITH $sqlDsirWeightCtes
         |SELECT doc_id, n_feat, weight FROM wts
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // fixed per-fixture path + overwrite: a fresh temp dir per
      // execution leaked one store copy per bench/verify pass
      val dir = graft.Scratch.dir("dsir-store", d) + "/counts"
      docs.withColumn("batch_id", (col("doc_id") % 2).cast("long"))
        .select(col("batch_id"),
          explode(TextAnalysis.dsirFeatures(col("text"), 256)).as("f"))
        .groupBy("batch_id", "f").agg(count(lit(1)).as("cnt"))
        .select("f", "cnt", "batch_id")
        .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
      TextAnalysis.dsirScoreAgainstCounts(docs,
          // explicit schema: partition inference would int-ify batch_id
          s.read.schema("f LONG, cnt LONG, batch_id LONG").parquet(dir)
            .groupBy("f").agg(sum("cnt").as("rcnt")),
          docs.filter(col("source").isin("src0", "src1")),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // DSIR systematic resampling — the SELECTION step the weights
    // exist for (Xie et al. resample ∝ weight): quantize each weight
    // to integer micro-units (+1 so every doc keeps mass), take the
    // distributed prefix sum over doc_id order (PrefixSum — no
    // single-partition window), and keep every doc whose cumulative
    // interval (cum - w, cum] contains a multiple of step = total/50.
    // Deterministic proportional-to-weight sampling with zero RNG:
    // high-weight (target-like) docs are picked ~w/step times over,
    // the pick count is ~50 regardless of corpus size, and the only
    // corpus exchange beyond the weights themselves is the range
    // partition of the prefix sum.
    QueryDef("text_dsir_resample",
      s"""WITH $sqlDsirWeightCtes,
         |wi AS (
         |  SELECT doc_id,
         |    CAST(FLOOR(weight * 1000000) AS BIGINT) + 1 AS w
         |  FROM wts),
         |cum AS (
         |  SELECT doc_id, w,
         |    CAST(SUM(w) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM wi),
         |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM wi),
         |st AS (SELECT GREATEST(t // 50, 1) AS step FROM tot)
         |SELECT doc_id, w, cum FROM cum, st
         |WHERE cum // step > (cum - w) // step
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      dsirResample(Tables.documents(s, d)).orderBy("doc_id")
    },

    // trained language ID (hashed-linear, fasttext-shaped): per-language
    // hashed char-trigram profiles trained on the 80% doc_id split,
    // held-out 20% classified by exact-integer profile dot (doc norm
    // drops from the argmax; one double division replays in SQL),
    // confusion matrix out. The upgrade over langIdHeuristic's
    // stopword ratio: it separates arbitrary language pairs, not just
    // en/other, and is script-agnostic. Model bounded at nLangs*256
    // rows -> broadcast at any corpus size.
    QueryDef("text_langid_confusion",
      s"""WITH tr AS (
         |  SELECT lang, lower(regexp_replace(text, '\\s+', '_', 'g')) AS c
         |  FROM documents WHERE doc_id % 10 < 8),
         |te AS (
         |  SELECT doc_id, lang,
         |    lower(regexp_replace(text, '\\s+', '_', 'g')) AS c
         |  FROM documents WHERE doc_id % 10 >= 8),
         |prof AS (
         |  SELECT lang, ${sqlH31("g")} % 256 AS b, COUNT(*) AS cnt FROM (
         |    SELECT lang, unnest(list_transform(range(1, length(c) - 1),
         |      i -> substring(c, i, 3))) AS g
         |    FROM tr)
         |  GROUP BY 1, 2),
         |nrm AS (SELECT lang, CAST(SUM(cnt * cnt) AS BIGINT) AS nrm2
         |        FROM prof GROUP BY 1),
         |db AS (
         |  SELECT doc_id, ${sqlH31("g")} % 256 AS b, COUNT(*) AS dcnt FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, length(c) - 1),
         |      i -> substring(c, i, 3))) AS g
         |    FROM te)
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT db.doc_id, p.lang,
         |    CAST(SUM(db.dcnt * p.cnt) AS BIGINT) AS dot
         |  FROM db JOIN prof p ON p.b = db.b
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT doc_id, lang AS predicted FROM (
         |    SELECT sc.doc_id, sc.lang,
         |      ROW_NUMBER() OVER (PARTITION BY sc.doc_id
         |        ORDER BY CAST(sc.dot AS DOUBLE)
         |                   / sqrt(CAST(n.nrm2 AS DOUBLE)) DESC,
         |                 sc.lang) AS rn
         |    FROM sc JOIN nrm n ON n.lang = sc.lang)
         |  WHERE rn = 1)
         |SELECT t.lang AS actual, p.predicted, COUNT(*) AS n
         |FROM pred p JOIN te t ON t.doc_id = p.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tr = docs.filter(col("doc_id") % 10 < 8)
      val te = docs.filter(col("doc_id") % 10 >= 8)
      val model = TextAnalysis.langIdTrain(tr, "text", "lang")
      TextAnalysis.langIdLinear(te, "doc_id", "text", model)
        .join(te.select(col("doc_id"), col("lang").as("actual")),
          Seq("doc_id"))
        .groupBy("actual", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("actual", "predicted")
    },

    // DSIR end-to-end data-selection flagship (Xie et al. 2023 as ONE
    // query): hashed-n-gram importance weights against the src0/src1
    // target domain → zero-RNG systematic resample proportional to
    // weight (the text_dsir_resample machinery) → the ~50 selected
    // docs packed into fixed-token-budget training bins by distributed
    // prefix sum. Corpus in, binned training subset out. Scale shape:
    // both DSIR count tables are bounded at 256 rows (broadcast), the
    // prefix sums are range-partitioned (never a single-reducer
    // window), and the post-selection stages run on the ~step-bounded
    // survivor set, so the only corpus-sized work is the weight scan
    // itself.
    QueryDef("pipeline_dsir_select",
      s"""WITH $sqlDsirWeightCtes,
         |wi AS (
         |  SELECT doc_id,
         |    CAST(FLOOR(weight * 1000000) AS BIGINT) + 1 AS w
         |  FROM wts),
         |cum AS (
         |  SELECT doc_id, w,
         |    CAST(SUM(w) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM wi),
         |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM wi),
         |st AS (SELECT GREATEST(t // 50, 1) AS step FROM tot),
         |sel AS (
         |  SELECT doc_id, w, cum FROM cum, st
         |  WHERE cum // step > (cum - w) // step),
         |tk2 AS (
         |  SELECT s.doc_id, s.w, s.cum,
         |    len(string_split(d.text, ' '))::BIGINT AS n_tokens
         |  FROM sel s JOIN documents d USING (doc_id)),
         |rr AS (
         |  SELECT doc_id, w, cum, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - n_tokens AS BIGINT) AS start_offset
         |  FROM tk2)
         |SELECT doc_id, w, cum, n_tokens, start_offset,
         |  CAST(FLOOR(CAST(start_offset AS DOUBLE) / 512) AS BIGINT)
         |    AS bin
         |FROM rr ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sel = dsirResample(docs)
      // ~50 selected rows join back for token counts — broadcastable by
      // construction (|sel| ≈ step count, corpus-size independent)
      val withTok = sel.join(docs.select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).as("n_tokens")), Seq("doc_id"))
      graft.ops.PrefixSum.packIntoBins(withTok, weight = col("n_tokens"),
          budget = 512L, orderBy = Seq(col("doc_id")))
        .select(col("doc_id"), col("w"), col("cum"), col("n_tokens"),
          col("start_offset"), col("bin").cast("bigint").as("bin"))
        .orderBy("doc_id")
    },

    // END-TO-END grade of the distributed GD training loop: labels are
    // planted in-plan (even docs get a 3x positive marker token, odd a
    // negative one), logistic regression trains on a hash-derived 80%
    // split, and the held-out 20% is scored by the trained weights.
    // Training is deterministic (full-batch, integer-quantized
    // gradients, no RNG), so the accuracies are FIXED numbers for the
    // fixture; the oracle grades the split sizes exactly and the
    // accuracies as wide-margin invariants (>= 95% train, >= 90%
    // eval) — a broken gradient, a sign flip, or a nondeterministic
    // sum drops accuracy to ~50% and hash-mismatches.
    QueryDef("text_logit_gate",
      s"""WITH s AS (
        |  SELECT doc_id,
        |    ${sqlH31("CAST(doc_id AS VARCHAR)")} % 100 < 80 AS is_train
        |  FROM documents)
        |SELECT
        |  CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_train,
        |  CAST(SUM(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_eval,
        |  TRUE AS train_acc_ok, TRUE AS eval_acc_ok
        |FROM s""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("y", (col("doc_id") % 2 === 0).cast("boolean"))
        // the planted marker scales with document length (~5% of
        // tokens): a weak label in a real pipeline correlates with a
        // fraction of the text, not a constant 3 tokens that hundreds
        // of noise tokens would swamp in few-iteration full-batch GD
        .withColumn("__mk", expr(
          "repeat(' qmark', GREATEST(3, CAST(size(split(text, ' ')) " +
            "AS INT) DIV 20))"))
        .withColumn("t2", concat(col("text"),
          when(col("y"), col("__mk"))
            .otherwise(regexp_replace(col("__mk"), "qmark", "jmark"))))
        .withColumn("is_train",
          TextAnalysis.tokenHash31(col("doc_id").cast("string"))
            % 100 < 80)
      // ONE tokenize+hash pass feeds BOTH the 6-iteration GD loop and
      // the scoring pass: the per-doc feature frame is built once with
      // the split flag riding along (broadcast join of the 2-column id
      // frame), persisted, and sliced — training filters it, scoring
      // is a map-only pass over it. Caller (Verify/Bench) clears cache.
      val grouped = TextAnalysis.logisticFeatures(
          docs, "doc_id", "t2", Some("y"), dim = 512)
        .join(broadcast(docs.select(col("doc_id").as("id"),
          col("is_train"))), Seq("id"))
        .persist()
      val model = TextAnalysis.logisticTrainOn(
        grouped.filter(col("is_train")), dim = 512, iters = 6,
        lrPermil = 1500)
      val byPart = TextAnalysis.logisticScoreOn(grouped, model,
          dim = 512)
        .groupBy("is_train")
        .agg(count(lit(1)).as("n"),
          // the feature frame carries y as 0/1 int — compare flags
          sum(when(col("accept") === (col("y") === 1), 1L)
            .otherwise(0L)).as("ok"))
        .select(col("is_train"), col("n"),
          expr("(ok * CAST(1000 AS BIGINT)) div n").as("permil"))
        .collect().map(r => r.getBoolean(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      val (trainN, trainP) = byPart(true)
      val (evalN, evalP) = byPart(false)
      import s.implicits._
      Seq((trainN, evalN, trainP >= 950L, evalP >= 900L))
        .toDF("n_train", "n_eval", "train_acc_ok", "eval_acc_ok")
    },

    // Deflate entropy-proxy probe (Gopher/CCNet compressibility gate):
    // zlib is not SQL-expressible, so the oracle grades INVARIANTS with
    // wide margins instead of byte counts — a 256-char constant run
    // must compress below 10%, 256 chars of md5-hex noise (8 chained
    // blocks, non-repeating) must stay above 45%, and the constant run
    // must beat the document's own prose. If deflate breaks, the
    // permil arithmetic flips, or a stream is mis-finished, a boolean
    // goes false and the hash mismatches. Exact-ratio behavior is spec
    // territory (zlib byte counts are JDK-version-scoped).
    QueryDef("text_compression_probe",
      """SELECT doc_id, TRUE AS repeat_ok, TRUE AS noise_ok,
        |  TRUE AS order_ok
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      def sig(t: org.apache.spark.sql.Column, as: String) =
        TextAnalysis.compressionSignals(
            docs.select(col("doc_id"), t.as("t")), "doc_id", "t")
          .select(col("doc_id"), col("ratio_permil").as(as))
      val rep = sig(repeat(lit("a"), 256), "r_repeat")
      val nat = sig(substring(col("text"), 1, 256), "r_text")
      val noi = sig(concat((0 until 8).map(i =>
        md5(concat(col("text"), lit(i.toString)))): _*), "r_noise")
      rep.join(nat, Seq("doc_id")).join(noi, Seq("doc_id"))
        .select(col("doc_id"),
          (col("r_repeat") < 100).as("repeat_ok"),
          (col("r_noise") > 450).as("noise_ok"),
          (col("r_repeat") < col("r_text")).as("order_ok"))
        .orderBy("doc_id")
    },

    // END-TO-END grade of the WARC/WET record parser (the ingest stage
    // of every crawl corpus): documents are serialized IN-PLAN into
    // multi-record WET blobs — ~64 blobs of real `WARC/1.0` framing,
    // headers, Content-Length in OCTETS, CRLF separators — with a
    // hostile line-start "WARC/1.0\r\nContent-Length: 0\r\n\r\n" block
    // embedded inside every payload, so a delimiter-driven (rather than
    // length-driven) parser would split records and hash-mismatch on
    // rec_index, content_length, and text_md5 alike. The oracle
    // recomputes every expected field directly from the documents table
    // (uri/date/id from doc_id arithmetic, content_length via byte
    // length, text_md5 over the exact payload string), so one
    // mis-counted byte (chars-vs-octets, swallowed CRLF, off-by-one
    // payload window) fails the grade. Multi-byte UTF-8 in `text`
    // makes the octet/char distinction load-bearing at sf's with
    // non-ASCII docs.
    QueryDef("text_wet_extract",
      """WITH recs AS (
        |  SELECT CAST(doc_id % 64 AS BIGINT) AS blob_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 64
        |      ORDER BY doc_id) - 1 AS INT) AS rec_index,
        |    'conversion' AS warc_type,
        |    'https://ex.example/doc/' || CAST(doc_id AS VARCHAR)
        |      AS target_uri,
        |    '2026-01-01T00:00:00Z' AS warc_date,
        |    '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
        |    CAST(strlen(text || chr(10) || 'WARC/1.0' || chr(13) ||
        |      chr(10) || 'Content-Length: 0' || chr(13) || chr(10) ||
        |      chr(13) || chr(10)) AS BIGINT) AS content_length,
        |    md5(text || chr(10) || 'WARC/1.0' || chr(13) || chr(10) ||
        |      'Content-Length: 0' || chr(13) || chr(10) || chr(13) ||
        |      chr(10)) AS text_md5
        |  FROM documents)
        |SELECT blob_id, rec_index, warc_type, target_uri, warc_date,
        |  record_id, content_length, text_md5
        |FROM recs ORDER BY blob_id, rec_index""".stripMargin) { (s, d) =>
      val id = col("doc_id").cast("string")
      val crlf = "\r\n"
      // payload = document text + an embedded fake record header at a
      // line start (valid zero-length record if a parser ever treated
      // payload bytes as framing)
      val payload = concat(col("text"),
        lit("\nWARC/1.0" + crlf + "Content-Length: 0" + crlf + crlf))
      val rec = concat(
        lit("WARC/1.0" + crlf),
        lit("WARC-Type: conversion" + crlf),
        lit("WARC-Target-URI: https://ex.example/doc/"), id, lit(crlf),
        lit("WARC-Date: 2026-01-01T00:00:00Z" + crlf),
        lit("WARC-Record-ID: <urn:uuid:"), id, lit(">" + crlf),
        lit("Content-Length: "),
        octet_length(payload).cast("string"), lit(crlf + crlf),
        payload, lit(crlf + crlf))
      val blobs = Tables.documents(s, d)
        .select((col("doc_id") % 64).as("blob_id"),
          struct(col("doc_id"), rec.as("rec")).as("sr"))
        .groupBy("blob_id")
        .agg(array_join(transform(array_sort(collect_list(col("sr"))),
          x => x.getField("rec")), "").as("wet"))
        .select(col("blob_id"), encode(col("wet"), "UTF-8").as("payload"))
      graft.ext.Warc.wetRecords(blobs, "blob_id", "payload").toDF()
        .select(col("blob_id"), col("rec_index"), col("warc_type"),
          col("target_uri"), col("warc_date"), col("record_id"),
          col("content_length"), md5(col("text")).as("text_md5"))
        .orderBy("blob_id", "rec_index")
    },

    // END-TO-END grade of the robots.txt frontier gate (RFC 9309):
    // seven hosts synthesized in-plan from doc_id arithmetic exercise
    // every normative branch — no robots at all, Disallow-/ blanket,
    // multiple rules, an exact-agent group that SHADOWS a blanket `*`
    // group, a multi-User-agent group header, comment/blank/case
    // tolerance, longest-match precedence, and the Allow-beats-Disallow
    // tie rule. The oracle recomputes the expected verdicts from the
    // arithmetic alone, so one mis-parsed group boundary, a wrong
    // group-selection rule, or a tie-break slip flips a verdict and
    // hash-mismatches.
    QueryDef("text_robots_filter",
      """SELECT doc_id,
        |  'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
        |  '/p/' || CAST(doc_id % 10 AS VARCHAR) AS path,
        |  CASE CAST(doc_id % 7 AS INT)
        |    WHEN 1 THEN FALSE
        |    WHEN 2 THEN doc_id % 10 NOT IN (3, 5)
        |    WHEN 3 THEN doc_id % 10 <> 9
        |    WHEN 4 THEN doc_id % 10 = 4
        |    WHEN 5 THEN doc_id % 10 <> 2
        |    WHEN 6 THEN doc_id % 10 <> 8
        |    ELSE TRUE END AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val hostK = col("doc_id") % 7
      val host = concat(lit("h"), hostK.cast("string"), lit(".example"))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://"), host, lit("/p/"),
          (col("doc_id") % 10).cast("string")).as("url"))
      val robots = docs.select(hostK.as("k")).distinct()
        .filter(col("k").between(1, 6))
        .select(
          concat(lit("h"), col("k").cast("string"), lit(".example"))
            .as("host"),
          when(col("k") === 1, "User-agent: *\nDisallow: /")
            .when(col("k") === 2,
              "User-agent: *\nDisallow: /p/3\nDisallow: /p/5")
            .when(col("k") === 3,
              // graftbot's own group shadows the blanket '*' group
              "User-agent: graftbot\nDisallow: /p/9\n" +
                "User-agent: *\nDisallow: /")
            .when(col("k") === 4,
              // longest match: Allow /p/4 (spec 4) beats Disallow /p
              "User-agent: *\nDisallow: /p\nAllow: /p/4")
            .when(col("k") === 5,
              // one group header naming two agents
              "User-agent: foo\nUser-agent: graftbot\nDisallow: /p/2")
            .otherwise(
              // comments, blank line, field case, inline comment, and
              // the equal-specificity Allow-wins tie on /p/7
              "# polite note\nUSER-AGENT: *\n\nAllow: /p/7\n" +
                "DisAllow: /p/7\nDisallow: /p/8 # inline")
            .as("robots_txt"))
      graft.ext.Robots.filterUrls(urls,
          graft.ext.Robots.rules(robots), agent = "graftbot")
        .select(col("doc_id"), col("host"), col("path"), col("allowed"))
        .orderBy("doc_id")
    },

    // END-TO-END grade of the politeness scheduler: per-host
    // Crawl-delay parsed from in-plan robots.txt (hosts 1-6 declare
    // delay = k seconds; host 0 has no robots and takes the default),
    // then the frontier plan sequences each host's URLs by priority
    // (n_chars desc, doc_id tiebreak) and computes the earliest polite
    // fetch slot. The oracle replays the whole plan — window rank,
    // delay CASE, slot arithmetic, URL tie hash — so a wave off-by-one,
    // a delay mis-parse, or a wrong default hash-mismatches.
    QueryDef("text_frontier_plan",
      s"""WITH u AS (
        |  SELECT doc_id, n_chars,
        |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
        |    CAST(doc_id % 7 AS INT) AS k,
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/'
        |      || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, host, k, url,
        |    CAST(row_number() OVER (PARTITION BY host
        |      ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT) AS fetch_wave
        |  FROM u)
        |SELECT doc_id, host, fetch_wave,
        |  fetch_wave * (CASE WHEN k = 0 THEN 1.0
        |    ELSE CAST(k AS DOUBLE) END) AS slot_sec,
        |  ${sqlH31("url")} AS fetch_tie
        |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val hostK = col("doc_id") % 7
      val host = concat(lit("h"), hostK.cast("string"), lit(".example"))
      val urls = docs.select(col("doc_id"), col("n_chars"),
        host.as("host"),
        concat(lit("https://"), host, lit("/p/"),
          col("doc_id").cast("string")).as("url"))
      val robots = docs.select(hostK.as("k")).distinct()
        .filter(col("k").between(1, 6))
        .select(
          concat(lit("h"), col("k").cast("string"), lit(".example"))
            .as("host"),
          concat(lit("User-agent: *\nCrawl-delay: "),
            col("k").cast("string")).as("robots_txt"))
      graft.ops.Frontier.plan(urls,
          graft.ext.Robots.crawlDelays(robots, "graftbot"),
          orderBy = Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("host"), col("fetch_wave"),
          col("slot_sec"), col("fetch_tie"))
        .orderBy("doc_id")
    },

    // Frontier plan → BUDGET CUT composed end to end: the same 7-host
    // politeness plan, then the two prefix-sum allowances a real crawl
    // runs under — per-host (wave cap 15 AND byte budget 6000 over
    // n_chars, whichever binds first per host) and global (30000 bytes
    // over the global fetch order slot/wave/tie, doc_id tiebreak). The
    // oracle replays both running sums and both inclusive-boundary
    // cuts in SQL windows — an off-by-one at either boundary, a wrong
    // cut order (global before host), or a non-total global order
    // hash-mismatches.
    QueryDef("pipeline_fetch_budget",
      s"""WITH u AS (
        |  SELECT doc_id, n_chars,
        |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
        |    CAST(doc_id % 7 AS INT) AS k,
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/'
        |      || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, n_chars, host, k, url,
        |    CAST(row_number() OVER (PARTITION BY host
        |      ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT) AS fetch_wave
        |  FROM u),
        |p AS (
        |  SELECT doc_id, n_chars, host, fetch_wave,
        |    fetch_wave * (CASE WHEN k = 0 THEN 1.0
        |      ELSE CAST(k AS DOUBLE) END) AS slot_sec,
        |    ${sqlH31("url")} AS fetch_tie
        |  FROM w),
        |hc AS (
        |  SELECT *, CAST(SUM(n_chars) OVER (PARTITION BY host
        |    ORDER BY fetch_wave
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS host_cum
        |  FROM p),
        |hk AS (SELECT * FROM hc
        |       WHERE fetch_wave < 15 AND host_cum <= 6000),
        |gc AS (
        |  SELECT *, CAST(SUM(n_chars) OVER (
        |    ORDER BY slot_sec, fetch_wave, fetch_tie, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS global_cum
        |  FROM hk)
        |SELECT doc_id, host, fetch_wave, host_cum, global_cum
        |FROM gc WHERE global_cum <= 30000
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val hostK = col("doc_id") % 7
      val host = concat(lit("h"), hostK.cast("string"), lit(".example"))
      val urls = docs.select(col("doc_id"), col("n_chars"),
        host.as("host"),
        concat(lit("https://"), host, lit("/p/"),
          col("doc_id").cast("string")).as("url"))
      val robots = docs.select(hostK.as("k")).distinct()
        .filter(col("k").between(1, 6))
        .select(
          concat(lit("h"), col("k").cast("string"), lit(".example"))
            .as("host"),
          concat(lit("User-agent: *\nCrawl-delay: "),
            col("k").cast("string")).as("robots_txt"))
      val plan = graft.ops.Frontier.plan(urls,
        graft.ext.Robots.crawlDelays(robots, "graftbot"),
        orderBy = Seq(col("n_chars").desc, col("doc_id")))
      graft.ops.Frontier.budgetCut(plan, "n_chars",
          hostMaxUrls = 15, hostBudget = 6000, globalBudget = 30000,
          tieBreak = Seq(col("doc_id")))
        .select(col("doc_id"), col("host"), col("fetch_wave"),
          col("host_cum"), col("global_cum"))
        .orderBy("doc_id")
    },

    // END-TO-END grade of the sitemap extractor: per-host <urlset>
    // XML synthesized in-plan (entity-encoded query strings, padded
    // whitespace inside <loc>, lastmod present only on even docs), the
    // regex-subset parser pulls the entries back, and the oracle
    // recomputes host/entry_no/loc/lastmod from doc_id arithmetic —
    // so a block-split slip, a missed entity decode, an untrimmed loc,
    // or an absent-lastmod mishandling hash-mismatches.
    QueryDef("text_sitemap_extract",
      """WITH e AS (
        |  SELECT doc_id,
        |    's' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 5
        |      ORDER BY doc_id) - 1 AS INT) AS entry_no,
        |    'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.example/p/'
        |      || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS loc,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    ELSE NULL END AS lastmod
        |  FROM documents)
        |SELECT host, 'urlset' AS kind, entry_no, loc, lastmod
        |FROM e ORDER BY host, entry_no""".stripMargin) { (s, d) =>
      val k = col("doc_id") % 5
      val host = concat(lit("s"), k.cast("string"), lit(".example"))
      val locRaw = concat(lit("https://"), host, lit("/p/"),
        col("doc_id").cast("string"), lit("?a=1&amp;b=2"))
      val lastmod = concat(lit("2026-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))
      val block = concat(lit("<url><loc> "), locRaw, lit(" </loc>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<lastmod>"), lastmod, lit("</lastmod>")))
          .otherwise(lit("")),
        lit("</url>"))
      val xmlDf = Tables.documents(s, d)
        .select(host.as("host"),
          struct(col("doc_id"), block.as("b")).as("sb"))
        .groupBy("host")
        .agg(concat(
          lit("<?xml version=\"1.0\"?><urlset " +
            "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
          array_join(transform(array_sort(collect_list(col("sb"))),
            x => x.getField("b")), ""),
          lit("</urlset>")).as("xml"))
      graft.ext.Sitemap.entries(xmlDf)
        .orderBy("host", "entry_no")
    },

    // END-TO-END grade of the hyperlink extractor: in-plan markup with
    // a double-quoted entity-encoded href, an href-less anchor (drops
    // but must keep later link numbers stable), a single-quoted href
    // with nested tags in the anchor text, a bare-attribute href, and
    // a SCRIPTED decoy link that must contribute nothing (noise strip
    // runs first). The oracle enumerates the expected rows from doc_id
    // arithmetic, so a quote-form miss, a numbering slip, an undecoded
    // entity, or a script leak hash-mismatches.
    QueryDef("text_link_extract",
      """WITH l AS (
        |  SELECT doc_id, CAST(doc_id % 11 AS INT) AS k FROM documents)
        |SELECT doc_id, link_no, href, anchor FROM (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS link_no,
        |    'https://h' || CAST((k + 1) % 11 AS VARCHAR)
        |      || '.example/x?a=1&b=2' AS href,
        |    'Next & Friend' AS anchor FROM l
        |  UNION ALL
        |  SELECT doc_id, CAST(2 AS BIGINT),
        |    'https://h' || CAST((3 * k + 1) % 11 AS VARCHAR)
        |      || '.example/y', 'Other Bold' FROM l
        |  UNION ALL
        |  SELECT doc_id, CAST(3 AS BIGINT),
        |    '/rel/' || CAST(doc_id AS VARCHAR), 'Bare' FROM l)
        |ORDER BY doc_id, link_no""".stripMargin) { (s, d) =>
      val k = col("doc_id") % 11
      val html = concat(
        lit("<html><body><a href=\"https://h"),
        ((k + 1) % 11).cast("string"),
        lit(".example/x?a=1&amp;b=2\">Next &amp; Friend</a>"),
        lit("<a class=\"nav\">No Href</a>"),
        lit("<a href='https://h"), ((k * 3 + 1) % 11).cast("string"),
        lit(".example/y'>Other <b>Bold</b></a>"),
        lit("<a href=/rel/"), col("doc_id").cast("string"),
        lit(">Bare</a>"),
        lit("<script>var a = \"<a href=\\\"https://evil.example/\\\">" +
          "x</a>\";</script></body></html>"))
      graft.ext.HtmlExtract.links(
          Tables.documents(s, d).select(col("doc_id"), html.as("html")),
          "doc_id", "html")
        .orderBy("doc_id", "link_no")
    },

    // URL canonicalization graded rule by rule: doc_id%8 plants one
    // messy reference form per rule — case+default-port+fragment+
    // tracking (0), https default port (1), protocol-relative (2),
    // root-relative against the page host (3), path-relative and
    // javascript: (4, 5 — both NULL: not fetchable absolutes),
    // non-default port kept (6), empty path (7). Expected canonicals
    // are rebuilt arithmetically, so any drift in any rule —
    // including the kept-param ORDER — hash-mismatches.
    QueryDef("text_url_canon",
      """WITH l AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS m,
        |    CAST(doc_id AS VARCHAR) AS n,
        |    'b' || CAST(doc_id % 4 AS VARCHAR) || '.example' AS bh
        |  FROM documents)
        |SELECT doc_id,
        |  CASE m
        |    WHEN 0 THEN 'HTTP://EXAMPLE.COM:80/Path/' || n
        |      || '?utm_source=x&id=' || n || '#f'
        |    WHEN 1 THEN 'https://h1.example:443/a/' || n || '?gclid=z'
        |    WHEN 2 THEN '//cdn.example/lib/' || n || '.js?v=' || n
        |    WHEN 3 THEN '/p/' || n || '?utm_campaign=c'
        |    WHEN 4 THEN 'rel/' || n
        |    WHEN 5 THEN 'javascript:void(0)'
        |    WHEN 6 THEN 'https://H6.Example:8080/' || n
        |    ELSE 'https://h7.example' END AS raw,
        |  CASE m
        |    WHEN 0 THEN 'http://example.com/Path/' || n || '?id=' || n
        |    WHEN 1 THEN 'https://h1.example/a/' || n
        |    WHEN 2 THEN 'https://cdn.example/lib/' || n || '.js?v=' || n
        |    WHEN 3 THEN 'https://' || bh || '/p/' || n
        |    WHEN 4 THEN NULL
        |    WHEN 5 THEN NULL
        |    WHEN 6 THEN 'https://h6.example:8080/' || n
        |    ELSE 'https://h7.example/' END AS canon,
        |  CASE m
        |    WHEN 0 THEN 'example.com'
        |    WHEN 1 THEN 'h1.example'
        |    WHEN 2 THEN 'cdn.example'
        |    WHEN 3 THEN bh
        |    WHEN 6 THEN 'h6.example'
        |    WHEN 7 THEN 'h7.example'
        |    ELSE NULL END AS host
        |FROM l ORDER BY doc_id""".stripMargin) { (s, d) =>
      val m = col("doc_id") % 8
      val n = col("doc_id").cast("string")
      val bh = concat(lit("b"), (col("doc_id") % 4).cast("string"),
        lit(".example"))
      val raw =
        when(m === 0, concat(lit("HTTP://EXAMPLE.COM:80/Path/"), n,
          lit("?utm_source=x&id="), n, lit("#f")))
        .when(m === 1, concat(lit("https://h1.example:443/a/"), n,
          lit("?gclid=z")))
        .when(m === 2, concat(lit("//cdn.example/lib/"), n,
          lit(".js?v="), n))
        .when(m === 3, concat(lit("/p/"), n, lit("?utm_campaign=c")))
        .when(m === 4, concat(lit("rel/"), n))
        .when(m === 5, lit("javascript:void(0)"))
        .when(m === 6, concat(lit("https://H6.Example:8080/"), n))
        .otherwise(lit("https://h7.example"))
      import graft.ext.UrlNormalize
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"), bh.as("bh"))
        .select(col("doc_id"), col("raw"),
          UrlNormalize.canonicalUrl(col("raw"), col("bh")).as("canon"))
        .withColumn("host", UrlNormalize.hostOf(col("canon")))
        .orderBy("doc_id")
    },

    // FLAGSHIP: link extraction → URL canonicalization → dedup by
    // canonical → politeness frontier, composed end to end. Each page
    // plants an UPPERCASE default-port tracking-param spelling AND the
    // root-relative spelling of the SAME url (they must collapse to one
    // frontier entry — dedup-by-canonical graded through the chain), a
    // javascript: decoy (dropped), and a protocol-relative image URL.
    // The oracle rebuilds the canonical url set arithmetically and
    // replays the frontier window, so a drift anywhere in the chain —
    // extraction, any canonicalization rule, the dedup, wave
    // numbering — hash-mismatches.
    QueryDef("pipeline_link_frontier",
      """WITH l AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS k,
        |    CAST(doc_id AS VARCHAR) AS n
        |  FROM documents),
        |u AS (
        |  SELECT 'https://s' || CAST(k AS VARCHAR) || '.example/p/'
        |      || n AS url,
        |    's' || CAST(k AS VARCHAR) || '.example' AS host
        |  FROM l
        |  UNION ALL
        |  SELECT 'https://img.example/i/' || n || '.png',
        |    'img.example'
        |  FROM l),
        |w AS (
        |  SELECT url, host,
        |    CAST(row_number() OVER (PARTITION BY host ORDER BY url)
        |      - 1 AS BIGINT) AS fetch_wave
        |  FROM u)
        |SELECT url, host, fetch_wave, fetch_wave * 1.0 AS slot_sec
        |FROM w ORDER BY url""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.ext.{HtmlExtract, UrlNormalize}
      val k = (col("doc_id") % 3).cast("string")
      val n = col("doc_id").cast("string")
      val pageHost = concat(lit("s"), k, lit(".example"))
      val html = concat(
        lit("<p>see <a href=\"HTTPS://S"), k,
        lit(".EXAMPLE:443/p/"), n,
        lit("?utm_source=l#x\">dup</a></p>"),
        lit("<a href='/p/"), n, lit("'>rel</a>"),
        lit("<a href=javascript:void(0)>js</a>"),
        lit("<a href=\"//img.example/i/"), n, lit(".png\">img</a>"))
      val pages = Tables.documents(s, d)
        .select(col("doc_id"), pageHost.as("page_host"),
          html.as("html"))
      val urls = HtmlExtract.links(pages, "doc_id", "html")
        .join(pages.select("doc_id", "page_host"), Seq("doc_id"))
        .select(UrlNormalize.canonicalUrl(col("href"),
          col("page_host")).as("url"))
        .filter(col("url").isNotNull)
        .distinct()
        .withColumn("host", UrlNormalize.hostOf(col("url")))
      graft.ops.Frontier.plan(urls,
          Seq.empty[(String, Double)].toDF("host", "crawl_delay_sec"),
          orderBy = Seq(col("url")), urlCol = "url")
        .select(col("url"), col("host"), col("fetch_wave"),
          col("slot_sec"))
        .orderBy("url")
    },

    // FLAGSHIP: the extracted link graph ranked — HTML in, host
    // authority out, three families composed in one oracle-replayed
    // query: hyperlink extraction (text), host-edge aggregation, and
    // 3-round integer PageRank (graph; the graph_pagerank arithmetic,
    // damping 85, floor-div mass splits — bit-exact in any engine).
    // The host graph is doc_id-arithmetic-derived (host k links to
    // k+1 and 3k+1 mod 11), so the oracle rebuilds the exact edge
    // weights and replays the rank rounds as CTEs.
    QueryDef("pipeline_link_rank", {
      val s0 = graft.ops.PageRank.Scale
      val base = s0 * 15 / 100
      def round(t: Int): String =
        s"""m$t AS (
           |  SELECT e.dst AS node,
           |    CAST(SUM((r.pr * e.w) // o.outw) AS BIGINT) AS cs
           |  FROM edges e
           |    JOIN r${t - 1} r ON r.node = e.src
           |    JOIN outw o ON o.src = e.src
           |  GROUP BY e.dst),
           |r$t AS (
           |  SELECT n.node, $base + (85 * COALESCE(m.cs, 0)) // 100 AS pr
           |  FROM nodes n LEFT JOIN m$t m ON m.node = n.node)""".stripMargin
      s"""WITH dd AS (
         |  SELECT CAST(doc_id % 11 AS INT) AS k FROM documents),
         |eraw AS (
         |  SELECT 'h' || CAST(k AS VARCHAR) || '.example' AS src,
         |    'h' || CAST((k + 1) % 11 AS VARCHAR) || '.example' AS dst
         |  FROM dd
         |  UNION ALL
         |  SELECT 'h' || CAST(k AS VARCHAR) || '.example',
         |    'h' || CAST((3 * k + 1) % 11 AS VARCHAR) || '.example'
         |  FROM dd),
         |edges AS (SELECT src, dst, COUNT(*) AS w FROM eraw GROUP BY 1, 2),
         |outw AS (
         |  SELECT src, CAST(SUM(w) AS BIGINT) AS outw
         |  FROM edges GROUP BY src),
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst FROM edges),
         |r0 AS (SELECT node, $s0 AS pr FROM nodes),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT node, pr FROM r3 ORDER BY node""".stripMargin
    }) { (s, d) =>
      val k = col("doc_id") % 11
      val srcHost = concat(lit("h"), k.cast("string"), lit(".example"))
      val html = concat(
        lit("<body><a href=\"https://h"), ((k + 1) % 11).cast("string"),
        lit(".example/x\">A</a><a href=\"https://h"),
        ((k * 3 + 1) % 11).cast("string"),
        lit(".example/y\">B</a></body>"))
      val pages = Tables.documents(s, d)
        .select(col("doc_id"), srcHost.as("src_host"), html.as("html"))
      val edges = graft.ext.HtmlExtract.links(pages, "doc_id", "html")
        .join(pages.select(col("doc_id"), col("src_host")), Seq("doc_id"))
        .groupBy(col("src_host").as("src"),
          regexp_extract(col("href"), "^https?://([^/]+)", 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.ops.PageRank.ranks(edges, iters = 3, dampPct = 85)
        .orderBy("node")
    },

    // text_wet_extract's production twin: the SAME record framing
    // grade but through REAL gzip bytes (WET files ship as .wet.gz) —
    // blobs are gzip-compressed in-plan and ingested via the
    // magic-sniffing auto path, so a broken gunzip, a mis-sniffed
    // magic, or any framing slip through the decompression boundary
    // hash-mismatches. 32-blob grouping (vs 64) keeps the two fixtures
    // distinct.
    QueryDef("text_wet_gz_extract",
      """WITH recs AS (
        |  SELECT CAST(doc_id % 32 AS BIGINT) AS blob_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 32
        |      ORDER BY doc_id) - 1 AS INT) AS rec_index,
        |    'conversion' AS warc_type,
        |    'https://ex.example/doc/' || CAST(doc_id AS VARCHAR)
        |      AS target_uri,
        |    '2026-01-01T00:00:00Z' AS warc_date,
        |    '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
        |    CAST(strlen(text || chr(10) || 'WARC/1.0' || chr(13) ||
        |      chr(10) || 'Content-Length: 0' || chr(13) || chr(10) ||
        |      chr(13) || chr(10)) AS BIGINT) AS content_length,
        |    md5(text || chr(10) || 'WARC/1.0' || chr(13) || chr(10) ||
        |      'Content-Length: 0' || chr(13) || chr(10) || chr(13) ||
        |      chr(10)) AS text_md5
        |  FROM documents)
        |SELECT blob_id, rec_index, warc_type, target_uri, warc_date,
        |  record_id, content_length, text_md5
        |FROM recs ORDER BY blob_id, rec_index""".stripMargin) { (s, d) =>
      import s.implicits._
      val id = col("doc_id").cast("string")
      val crlf = "\r\n"
      val payload = concat(col("text"),
        lit("\nWARC/1.0" + crlf + "Content-Length: 0" + crlf + crlf))
      val rec = concat(
        lit("WARC/1.0" + crlf),
        lit("WARC-Type: conversion" + crlf),
        lit("WARC-Target-URI: https://ex.example/doc/"), id, lit(crlf),
        lit("WARC-Date: 2026-01-01T00:00:00Z" + crlf),
        lit("WARC-Record-ID: <urn:uuid:"), id, lit(">" + crlf),
        lit("Content-Length: "),
        octet_length(payload).cast("string"), lit(crlf + crlf),
        payload, lit(crlf + crlf))
      val gzBlobs = Tables.documents(s, d)
        .select((col("doc_id") % 32).as("blob_id"),
          struct(col("doc_id"), rec.as("rec")).as("sr"))
        .groupBy("blob_id")
        .agg(array_join(transform(array_sort(collect_list(col("sr"))),
          x => x.getField("rec")), "").as("wet"))
        .select(col("blob_id"), encode(col("wet"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (bid, b) =>
          (bid, graft.ext.Warc.gzip(b))
        })
        .toDF("blob_id", "payload")
      graft.ext.Warc.wetRecordsAuto(gzBlobs).toDF()
        .select(col("blob_id"), col("rec_index"), col("warc_type"),
          col("target_uri"), col("warc_date"), col("record_id"),
          col("content_length"), md5(col("text")).as("text_md5"))
        .orderBy("blob_id", "rec_index")
    },

    // FLAGSHIP: the crawl-refresh loop closed — sitemap XML parsed
    // in-plan (the text_sitemap_extract fixture), entries joined
    // against a last-fetch table, the refresh rule applied (refetch
    // when lastmod is absent — unknown freshness — or newer than the
    // last fetch), and survivors politeness-scheduled with per-host
    // delays. Three of this round's operators compose in one query
    // and the oracle replays every stage from doc_id arithmetic:
    // lastmod/fetched day arithmetic, the refresh predicate, the
    // per-host priority window, and the slot product.
    QueryDef("pipeline_recrawl_plan",
      s"""WITH e AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS k,
        |    's' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    ELSE NULL END AS lastmod,
        |    '2026-01-' || lpad(CAST(doc_id % 14 + 1 AS VARCHAR), 2, '0')
        |      AS fetched_at
        |  FROM documents),
        |s AS (
        |  SELECT * FROM e
        |  WHERE lastmod IS NULL OR lastmod > fetched_at),
        |w AS (
        |  SELECT doc_id, host, k, lastmod,
        |    CAST(row_number() OVER (PARTITION BY host ORDER BY
        |      COALESCE(lastmod, '9999') DESC, doc_id) - 1 AS BIGINT)
        |      AS fetch_wave
        |  FROM s)
        |SELECT doc_id, host, lastmod, fetch_wave,
        |  fetch_wave * CAST(k + 1 AS DOUBLE) AS slot_sec
        |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
      val k = col("doc_id") % 5
      val host = concat(lit("s"), k.cast("string"), lit(".example"))
      val locRaw = concat(lit("https://"), host, lit("/p/"),
        col("doc_id").cast("string"))
      val lastmod = concat(lit("2026-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))
      val block = concat(lit("<url><loc>"), locRaw, lit("</loc>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<lastmod>"), lastmod, lit("</lastmod>")))
          .otherwise(lit("")),
        lit("</url>"))
      val docs = Tables.documents(s, d)
      val xmlDf = docs
        .select(host.as("host"),
          struct(col("doc_id"), block.as("b")).as("sb"))
        .groupBy("host")
        .agg(concat(lit("<urlset>"),
          array_join(transform(array_sort(collect_list(col("sb"))),
            x => x.getField("b")), ""),
          lit("</urlset>")).as("xml"))
      val entries = graft.ext.Sitemap.entries(xmlDf)
        .withColumn("doc_id",
          regexp_extract(col("loc"), "/p/(\\d+)$", 1).cast("long"))
      val lastFetch = docs.select(col("doc_id"),
        concat(lit("2026-01-"),
          lpad((col("doc_id") % 14 + 1).cast("string"), 2, "0"))
          .as("fetched_at"))
      val due = entries.join(lastFetch, Seq("doc_id"))
        .filter(col("lastmod").isNull ||
          col("lastmod") > col("fetched_at"))
      val delays = docs.select(k.cast("int").as("kk")).distinct()
        .select(
          concat(lit("s"), col("kk").cast("string"), lit(".example"))
            .as("host"),
          (col("kk") + 1).cast("double").as("crawl_delay_sec"))
      graft.ops.Frontier.plan(due, delays,
          orderBy = Seq(coalesce(col("lastmod"), lit("9999")).desc,
            col("doc_id")),
          urlCol = "loc")
        .select(col("doc_id"), col("host"), col("lastmod"),
          col("fetch_wave"), col("slot_sec"))
        .orderBy("doc_id")
    },

    // END-TO-END grade of the HTML extractor: every document wraps its
    // text in a REAL markup shell (title, style+script with a hostile
    // `</div>` inside the script string, a comment, a header with
    // entities, link-dense nav items, an entity-heavy footer div),
    // synthesized IN-PLAN from doc_id arithmetic — the mm_container_meta
    // grading pattern. The oracle replays every stage (script/style
    // drop, comment drop, block-tag line split, tag strip, entity
    // decode, whitespace collapse, integral link permil) in the shared
    // Java-regex/RE2 dialect, so one mis-ordered stage or off-by-one
    // hash-mismatches. Six visible lines per document, two of them
    // pure-anchor (permil 1000).
    QueryDef("text_html_extract", sqlHtmlExtractOracle) { (s, d) =>
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style>p{color:red}</style>"),
        lit("<script>var x=\"</div>\";</script></head>"),
        lit("<body><!-- hidden "), id, lit(" -->"),
        lit("<h1>Header &amp; "), id, lit("</h1>"),
        lit("<p>"), col("text"), lit("</p>"),
        lit("<ul><li><a href=\"/a\">Nav One</a></li>"),
        lit("<li><a href=\"/b\">Nav Two</a></li></ul>"),
        lit("<div>Tail &lt;"), id, lit("&gt;&nbsp;end</div></body></html>"))
      graft.ext.HtmlExtract.extractLines(
          Tables.documents(s, d).select(col("doc_id"), html.as("html")),
          "doc_id", "html")
        .orderBy("doc_id", "line_no")
    },

    // jusText context-free block classification end to end: every
    // document's markup shell plants one block per verdict class from
    // doc_id arithmetic — the natural-prose paragraph (its stopword
    // density varies per document, grading the permil thresholds on
    // real variation), two pure-anchor nav items (link bad), a short
    // noteless block (short), a short block WITH a link (the
    // link-present bad branch), a 359-char all-stopword block (good:
    // high-stop AND past lenHigh), a 119-char all-stopword block
    // (neargood: high-stop but mid-length), and a short tail. The
    // caller-supplied stopword list is deliberately messy (uppercase
    // padded dup, whitespace-carrying entry) so the normalization
    // contract is graded too. The oracle replays extraction, token
    // stopword counting, and the five-way CASE in decision order — one
    // swapped branch or off-by-one threshold hash-mismatches.
    QueryDef("text_justext_blocks",
      s"""WITH $sqlJustextClassifiedCtes
        |SELECT doc_id, line_no, line, link_permil, n_words,
        |  stop_permil, cls
        |FROM cl ORDER BY doc_id, line_no""".stripMargin) { (s, d) =>
      graft.ext.HtmlExtract.justextBlocks(
          justextSrc(s, d), "doc_id", "html", justextWords(s))
        .orderBy("doc_id", "line_no")
    },

    // jusText CONTEXT-SENSITIVE pass graded per line: good/bad anchor,
    // short/neargood resolve against nearest anchors (document edge
    // defaults bad). The fixture plants every branch — the %11
    // good-short-good sandwich (short PROMOTES between prose), the
    // short note whose following anchor flips with %7 (bad-link
    // neighbour) vs the good block, the %3 neargood promoted by a
    // single good anchor, and the edge-default tail. The oracle
    // replays the anchor windows (IGNORE NULLS last/first) and the
    // four-way resolution CASE.
    QueryDef("text_justext_revise",
      s"""WITH $sqlJustextClassifiedCtes,
        |rv AS (
        |  SELECT doc_id, line_no, cls,
        |    coalesce(last_value(CASE WHEN cls IN ('good', 'bad')
        |        THEN cls END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY line_no
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'bad') AS prev_cls,
        |    coalesce(first_value(CASE WHEN cls IN ('good', 'bad')
        |        THEN cls END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY line_no
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |      'bad') AS next_cls
        |  FROM cl)
        |SELECT doc_id, line_no, cls, prev_cls, next_cls,
        |  CASE
        |    WHEN cls IN ('good', 'bad') THEN cls
        |    WHEN prev_cls = 'good' AND next_cls = 'good' THEN 'good'
        |    WHEN prev_cls = 'bad' AND next_cls = 'bad' THEN 'bad'
        |    WHEN cls = 'neargood' THEN 'good'
        |    ELSE 'bad'
        |  END AS final_cls
        |FROM rv ORDER BY doc_id, line_no""".stripMargin) { (s, d) =>
      graft.ext.HtmlExtract.justextRevise(
          graft.ext.HtmlExtract.justextBlocks(
            justextSrc(s, d), "doc_id", "html", justextWords(s)))
        .select("doc_id", "line_no", "cls", "prev_cls", "next_cls",
          "final_cls")
        .orderBy("doc_id", "line_no")
    },

    // The full jusText extraction flagship: markup in, boilerplate-free
    // prose out — classification, context revision, good-block keep,
    // in-order reassembly, empty-doc drop, all replayed in SQL (an
    // ordered FILTER string_agg mirrors the in-row sort_array join).
    QueryDef("pipeline_justext_extract",
      s"""WITH $sqlJustextClassifiedCtes,
        |rv AS (
        |  SELECT doc_id, line_no, line, cls,
        |    coalesce(last_value(CASE WHEN cls IN ('good', 'bad')
        |        THEN cls END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY line_no
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'bad') AS prev_cls,
        |    coalesce(first_value(CASE WHEN cls IN ('good', 'bad')
        |        THEN cls END IGNORE NULLS)
        |      OVER (PARTITION BY doc_id ORDER BY line_no
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |      'bad') AS next_cls
        |  FROM cl),
        |fin AS (
        |  SELECT doc_id, line_no, line,
        |    CASE
        |      WHEN cls IN ('good', 'bad') THEN cls
        |      WHEN prev_cls = 'good' AND next_cls = 'good' THEN 'good'
        |      WHEN prev_cls = 'bad' AND next_cls = 'bad' THEN 'bad'
        |      WHEN cls = 'neargood' THEN 'good'
        |      ELSE 'bad'
        |    END AS final_cls
        |  FROM rv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(count(*) FILTER (final_cls = 'good') AS BIGINT)
        |    AS n_kept,
        |  string_agg(line, chr(10) ORDER BY line_no)
        |    FILTER (final_cls = 'good') AS text
        |FROM fin GROUP BY doc_id
        |HAVING count(*) FILTER (final_cls = 'good') > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ext.HtmlExtract.justextText(
          justextSrc(s, d), "doc_id", "html", justextWords(s))
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          col("text"))
        .orderBy("doc_id")
    },

    // C4-style wordlist gate, both halves graded: per-document
    // blocked-token counts (whole-token, case-insensitive, broadcast
    // wordlist) and the integral permil-threshold keep decision. The
    // wordlist is CALLER-SUPPLIED and deliberately messy — an
    // uppercase-padded duplicate (' SCAN '), a no-hit word, a
    // whitespace-carrying entry that must be dropped — so the
    // normalization contract (trim, lower, distinct, no-whitespace) is
    // part of the grade. `kept` comes from wordlistFilter itself (the
    // left-semi survivor set), not re-derived, so the filter half's
    // plan is exercised too.
    QueryDef("text_wordlist_filter", sqlWordlistOracle) { (s, d) =>
      import s.implicits._
      val words = Seq("slow", "big", "scan", "the", "zzz", " SCAN ", "a b")
        .toDF("word")
      val docs = Tables.documents(s, d)
      val ann = TextAnalysis.wordlistHits(docs, "doc_id", "text", words)
      val kept = TextAnalysis
        .wordlistFilter(docs, "doc_id", "text", words, maxPermil = 20)
        .select(col("doc_id"), lit(true).as("kept"))
      ann.join(kept, Seq("doc_id"), "left")
        .na.fill(false, Seq("kept"))
        .select(col("doc_id"), col("tokens"), col("hits"),
          col("hit_permil"), col("kept"))
        .orderBy("doc_id")
    },

    // Gopher LINE-repetition signals end to end: every document wraps
    // its text in a markup shell carrying doc_id%3+1 copies of the SAME
    // nav line plus a unique tail, the HTML extractor splits it to
    // lines, and lineRepetitionStats aggregates — so the oracle's
    // expected permils derive from doc_id arithmetic through the full
    // extract→group chain (one wrong dedup or char count
    // hash-mismatches).
    QueryDef("text_line_repetition", sqlLineRepetitionOracle) { (s, d) =>
      val nav = "<li><a href=\"/n\">Nav Item</a></li>"
      val m = col("doc_id") % 3
      val html = concat(
        lit("<p>"), col("text"), lit("</p>"),
        when(m === 0, lit(nav)).when(m === 1, lit(nav + nav))
          .otherwise(lit(nav + nav + nav)),
        lit("<p>tail "), col("doc_id").cast("string"), lit("</p>"))
      TextAnalysis.lineRepetitionStats(
          graft.ext.HtmlExtract.extractLines(
            Tables.documents(s, d).select(col("doc_id"), html.as("html")),
            "doc_id", "html"),
          "doc_id", "line")
        .orderBy("doc_id")
    },

    // Sentence segmentation graded through planted punctuation: a
    // period lands after every token whose 31-bit hash ≡ 0 (mod 5) —
    // content-derived, position-independent, engine-replayable — then
    // the marker-split sentence machinery and the C4 terminal-punct /
    // mean-length stats run over the planted text.
    QueryDef("text_sentences", sqlSentencesOracle) { (s, d) =>
      val planted = array_join(
        transform(TextAnalysis.tokens(col("text")),
          t => concat(t,
            when(TextAnalysis.tokenHash31(t) % 5 === 0, lit("."))
              .otherwise(lit("")))),
        " ")
      TextAnalysis.sentenceStatsDf(
          Tables.documents(s, d)
            .select(col("doc_id"), planted.as("__p")),
          "doc_id", "__p")
        .orderBy("doc_id")
    },

    // Gopher word-shape signals with planted shape variety (symbol
    // runs, digits, ellipses by doc_id class — the fixture corpus is
    // pure alpha, which would leave three columns constant-zero and
    // ungraded).
    QueryDef("text_gopher_signals", sqlGopherOracle) { (s, d) =>
      val m = col("doc_id") % 4
      val planted = concat(col("text"),
        when(m === 0, lit(" ### 123")).when(m === 1, lit(" ... a9 x"))
          .when(m === 2, lit(" ab12cd")).otherwise(lit("")))
      Tables.documents(s, d).select(
          (col("doc_id") +: TextAnalysis.gopherSignals(planted)): _*)
        .orderBy("doc_id")
    },

    // within-document line dedup end to end: a boiler line repeats
    // doc_id%2+1 times between the body and a unique tail; the
    // first-occurrence selection, order-restoring reassembly, and the
    // kept/total counts all replay in SQL (string_agg ORDER BY the
    // same min-position key).
    QueryDef("text_dedup_lines",
      """WITH src AS (
        |  SELECT doc_id, text || chr(10) || 'boiler plate line' ||
        |    CASE WHEN doc_id % 2 = 1
        |      THEN chr(10) || 'boiler plate line' ELSE '' END ||
        |    chr(10) || 'tail ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM src),
        |ix AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
        |       FROM ls),
        |rw AS (SELECT doc_id, i, list_extract(l, i) AS line FROM ix),
        |g AS (SELECT doc_id, line, MIN(i) AS first, COUNT(*) AS occ
        |      FROM rw GROUP BY 1, 2)
        |SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY first) AS text,
        |  CAST(SUM(occ) AS BIGINT) AS n_lines,
        |  COUNT(*) AS n_kept
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val boiler = "\nboiler plate line"
      val ml = concat(col("text"), lit(boiler),
        when(col("doc_id") % 2 === 1, lit(boiler)).otherwise(lit("")),
        lit("\ntail "), col("doc_id").cast("string"))
      TextAnalysis.dedupDocLines(
          Tables.documents(s, d).select(col("doc_id"), ml.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // encoding-quality screen with planted corruption: a replacement
    // char + a C0 control for doc%3=0, an accented char for doc%3=1 —
    // the permil arithmetic and the \x{FFFD}/C0/non-ASCII classes
    // (identical spellings in Java regex and RE2) replay in SQL.
    QueryDef("text_encoding_signals",
      """WITH src AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN chr(65533) || chr(7)
        |    WHEN 1 THEN chr(233) ELSE '' END AS p
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, CAST(length(p) AS BIGINT) AS n,
        |    CAST(length(p) - length(regexp_replace(p,
        |      '\x{FFFD}', '', 'g')) AS BIGINT) AS repl,
        |    CAST(length(p) - length(regexp_replace(p,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT)
        |      AS ctrl,
        |    CAST(length(p) - length(regexp_replace(p,
        |      '[^\x00-\x7F]', '', 'g')) AS BIGINT) AS na
        |  FROM src)
        |SELECT doc_id, n AS n_chars,
        |  CASE WHEN n > 0 THEN (repl * 1000) // n ELSE 0 END
        |    AS replacement_permil,
        |  CASE WHEN n > 0 THEN (ctrl * 1000) // n ELSE 0 END
        |    AS control_permil,
        |  CASE WHEN n > 0 THEN (na * 1000) // n ELSE 0 END
        |    AS non_ascii_permil
        |FROM st ORDER BY doc_id""".stripMargin) { (s, d) =>
      val m = col("doc_id") % 3
      val planted = concat(col("text"),
        when(m === 0, lit("�")).when(m === 1, lit("é"))
          .otherwise(lit("")))
      Tables.documents(s, d).select(
          (col("doc_id") +: TextAnalysis.encodingSignals(planted)): _*)
        .orderBy("doc_id")
    },

    // corpus DATA CARD: the per-(source, lang) rollup a training run
    // publishes next to its mixture table — documents, token/char
    // volume, vocabulary and stopword mass, PII incidence, integral
    // mean length. Pure integer sums over one scan + one low-
    // cardinality keyed agg (the group count is bounded by
    // sources×languages, so the final agg is broadcast-sized at any
    // corpus scale).
    QueryDef("text_corpus_card",
      s"""WITH per AS (
        |  SELECT source, lang,
        |    len(string_split(text, ' '))::BIGINT AS n_tok,
        |    len(list_distinct(string_split(text, ' ')))::BIGINT AS n_dis,
        |    length(text)::BIGINT AS n_ch,
        |    len(list_filter(string_split(text, ' '),
        |      t -> list_contains($sqlStop, t)))::BIGINT AS n_stop
        |  FROM documents)
        |SELECT source, lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_ch) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_dis) AS BIGINT) AS distinct_token_sum,
        |  CAST(SUM(n_stop) AS BIGINT) AS stopword_sum,
        |  CAST((SUM(n_tok) * 100) // COUNT(*) AS BIGINT)
        |    AS mean_tokens_x100
        |FROM per GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("lang"),
          TextAnalysis.nTokens(col("text")).as("n_tok"),
          TextAnalysis.nDistinct(col("text")).as("n_dis"),
          length(col("text")).cast("long").as("n_ch"),
          TextAnalysis.nStopwords(col("text")).as("n_stop"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast("long").as("total_tokens"),
          sum("n_ch").cast("long").as("total_chars"),
          sum("n_dis").cast("long").as("distinct_token_sum"),
          sum("n_stop").cast("long").as("stopword_sum"))
        .withColumn("mean_tokens_x100",
          expr("(total_tokens * CAST(100 AS BIGINT)) div n_docs"))
        .orderBy("source", "lang")
    },

    // ROUND-9 FLAGSHIP — the crawl-ingest curation chain composed end
    // to end from this round's operators, markup in, training corpus
    // out: HTML extraction with link-density boilerplate pruning →
    // within-doc line dedup → encoding gate (replacement chars) →
    // wordlist gate → Gopher symbol gate → duplicate-count-weighted
    // soft dedup. Every hazard is planted by doc_id arithmetic (a
    // corrupted body, a blocked paragraph, a symbol-spam block, a
    // ~2/19 shared mirror-page group, a repeated subscribe line, pure-
    // link nav items), and the oracle replays all six stages in SQL —
    // stage order included — so one misordered gate hash-mismatches.
    QueryDef("pipeline_html_curate", sqlHtmlCurateOracle) { (s, d) =>
      import graft.ext.{Dedup, HtmlExtract}
      val id = col("doc_id")
      val shell = concat(
        lit("<html><body><p>"), col("text"),
        when(id % 11 === 0, lit("�")).otherwise(lit("")),
        lit("</p>"),
        when(id % 13 === 0, lit("<p>this is blocked content</p>"))
          .otherwise(lit("")),
        lit("<p>subscribe now</p><p>subscribe now</p>"),
        lit("<ul><li><a href=\"/l\">Link One</a></li>"),
        lit("<li><a href=\"/l\">Link Two</a></li></ul>"),
        when(id % 17 === 0, lit("<p>### ### ### ### ###</p>"))
          .otherwise(lit("")),
        lit("<p>tail "), id.cast("string"), lit("</p></body></html>"))
      val html = when(id % 19 < 2,
        lit("<p>shared mirror page</p><p>subscribe now</p>"))
        .otherwise(shell)
      val src = Tables.documents(s, d).select(id, html.as("html"))
      val extracted = HtmlExtract.extractText(src, "doc_id", "html",
        maxLinkPermil = 500)
      // the extract+dedup prefix feeds every later gate, and two of
      // them (wordlist semi-join, soft-dedup count join) consume their
      // input TWICE — persist the expensive prefix and the final gated
      // stage so the six-stage chain evaluates once, not 4-6x (the
      // in-query persist discipline of the other flagships; the bench
      // clears the cache between queries)
      val deduped = TextAnalysis.dedupDocLines(extracted, "doc_id", "text")
        .persist()
      val keepCols = Seq(col("doc_id"), col("text"), col("n_lines"),
        col("n_kept"))
      val encOk = deduped
        .select((keepCols ++
          TextAnalysis.encodingSignals(col("text"))): _*)
        .filter(col("replacement_permil") === 0L)
        .select(keepCols: _*)
      val words = {
        import s.implicits._
        Seq("blocked").toDF("word")
      }
      val wlOk = TextAnalysis.wordlistFilter(encOk, "doc_id", "text",
        words, maxPermil = 0)
      val gopOk = wlOk
        .select((keepCols ++ TextAnalysis.gopherSignals(col("text"))): _*)
        .filter(col("symbol_word_permil") <= 30L)
        .select(keepCols: _*)
        .persist()
      Dedup.softDedupSample(gopOk, "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          col("dup_count"))
        .orderBy("doc_id")
    },

    // Unicode NFC canonicalization graded end to end: decomposed
    // sequences (e+U+0301, A+U+030A) planted by doc_id class must
    // compose (length shrinks by one), already-composed and ASCII
    // text must pass through unchanged — the JDK Normalizer and
    // DuckDB's nfc_normalize implement the same Unicode tables, so
    // the full normalized text hash-compares.
    QueryDef("text_nfc_normalize",
      """WITH src AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN chr(101) || chr(769)
        |    WHEN 1 THEN chr(233)
        |    WHEN 2 THEN chr(65) || chr(778)
        |    ELSE '' END AS p
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(p) AS BIGINT) AS len_before,
        |  CAST(length(nfc_normalize(p)) AS BIGINT) AS len_after,
        |  nfc_normalize(p) AS norm_text
        |FROM src ORDER BY doc_id""".stripMargin) { (s, d) =>
      val m = col("doc_id") % 4
      val planted = concat(col("text"),
        // explicit escapes: class 0/2 are DECOMPOSED (base + combining
        // mark), class 1 is precomposed - editors silently NFC source
        // files, so the decomposed forms must never appear literally
        when(m === 0, lit("e\u0301")).when(m === 1, lit("\u00e9"))
          .when(m === 2, lit("A\u030A")).otherwise(lit("")))
      Tables.documents(s, d).select(col("doc_id"),
          length(planted).cast("long").as("len_before"),
          length(graft.functions.NfcNormalize(planted)).cast("long")
            .as("len_after"),
          graft.functions.NfcNormalize(planted).as("norm_text"))
        .orderBy("doc_id")
    },

    crawlRefreshDef,

    // Registered-domain share audit — domain-level governance over a
    // synthesized host column (PSL semantics: `co.uk` rules fuse the
    // www./news. spellings of one publisher; an unlisted TLD falls to
    // the prevailing * rule; doc_id%97 plants hosts that ARE a suffix
    // and therefore have NO registered domain). The longest-match CASE,
    // the dynamic label slice and the integral share permil all replay
    // in SQL.
    QueryDef("text_domain_share",
      s"""WITH h AS (
        |  SELECT doc_id, $sqlDomainHost AS host FROM documents),
        |r AS (
        |  SELECT doc_id, coalesce($sqlRegisteredDomain, '(none)')
        |    AS domain
        |  FROM (SELECT doc_id, string_split(host, '.') AS l FROM h)),
        |g AS (
        |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM r GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM g)
        |SELECT domain, n_docs,
        |  n_docs * 1000 // total AS share_permil
        |FROM g, t ORDER BY n_docs DESC, domain""".stripMargin) {
      (s, d) =>
      val g = Tables.documents(s, d)
        .select(coalesce(
          graft.ext.UrlNormalize.registeredDomain(
            domainHost, DomainSuffixes), lit("(none)")).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
      val t = g.agg(sum("n_docs").cast("long").as("total"))
      g.crossJoin(broadcast(t))
        .select(col("domain"), col("n_docs"),
          expr("n_docs * CAST(1000 AS BIGINT) div total")
            .as("share_permil"))
        .orderBy(col("n_docs").desc, col("domain"))
    },

    // Per-domain contribution cap — the C4/Gopher governance move
    // that stops one publisher dominating a corpus: rank every
    // document within its registered domain (deterministic by
    // doc_id) and keep the first `cap`. The rank is a domain-keyed
    // window — shuffle bounded by the doc-id frame, no global sort;
    // at 100 TB the same plan holds because domains are the natural
    // partition key of a crawl.
    QueryDef("pipeline_domain_cap",
      s"""WITH h AS (
        |  SELECT doc_id, $sqlDomainHost AS host FROM documents),
        |r AS (
        |  SELECT doc_id, coalesce($sqlRegisteredDomain, '(none)')
        |    AS domain
        |  FROM (SELECT doc_id, string_split(host, '.') AS l FROM h)),
        |rk AS (
        |  SELECT doc_id, domain,
        |    CAST(row_number() OVER (PARTITION BY domain
        |      ORDER BY doc_id) AS BIGINT) AS domain_rank
        |  FROM r)
        |SELECT doc_id, domain, domain_rank,
        |  domain_rank <= 10 AS kept
        |FROM rk ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val r = Tables.documents(s, d)
        .select(col("doc_id"), coalesce(
          graft.ext.UrlNormalize.registeredDomain(
            domainHost, DomainSuffixes), lit("(none)")).as("domain"))
      r.withColumn("domain_rank",
          row_number().over(
            Window.partitionBy("domain").orderBy("doc_id"))
            .cast("long"))
        .select(col("doc_id"), col("domain"), col("domain_rank"),
          (col("domain_rank") <= 10L).as("kept"))
        .orderBy("doc_id")
    },

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): documents
    // rank within their source by the transcendental-free LM signal
    // (integral micro-avg of the bigram likelihood — same ordering as
    // log-perplexity) and split into head/middle/tail terciles, the
    // groups CCNet keeps/inspects/drops. ntile over a TOTAL order
    // (score desc, then doc_id) — standard remainder-to-first-buckets
    // semantics in both engines. The oracle says `ntile OVER
    // (PARTITION BY source)`, but the engine must NOT plan it that
    // way: `source` has a handful of values, so a source-keyed
    // WindowExec sorts ~corpus/|sources| rows in ONE task at 100 TB.
    // Instead: per-source ranks via the range-partitioned
    // PrefixSum grouped ordinal (every source spread across all
    // partitions), then the ntile bucket replayed arithmetically from
    // (rank, source count) — remainder-to-first-buckets exactly.
    // Hashes unchanged; the single-task sort funnel gone
    // (CorpusWindowPlanSpec asserts no low-cardinality WindowExec).
    QueryDef("pipeline_ccnet_buckets",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM t),
        |m AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
        |m2 AS (SELECT bigram, cnt, string_split(bigram, ' ')[1] AS w1
        |       FROM m),
        |pf AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS prefix_cnt
        |       FROM m2 GROUP BY w1),
        |mp AS (SELECT m2.bigram,
        |         CAST(floor(1000000.0 * cnt / prefix_cnt) AS BIGINT) AS p
        |       FROM m2 JOIN pf ON pf.w1 = m2.w1),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(SUM(p) AS BIGINT) // COUNT(*) AS avg_mi
        |  FROM bg JOIN mp ON mp.bigram = bg.bigram
        |  GROUP BY doc_id),
        |nt AS (
        |  SELECT d.doc_id, d.source, sc.avg_mi,
        |    ntile(3) OVER (PARTITION BY d.source
        |      ORDER BY sc.avg_mi DESC, d.doc_id) AS b
        |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id)
        |SELECT doc_id, source, avg_mi,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM nt ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sc = TextAnalysis.lmScore(docs, "doc_id", "text",
          TextAnalysis.bigramModel(docs, "text"))
        .select(col("doc_id"),
          expr("lm_sum_micro div n_bigrams").as("avg_mi"))
      val ranked = graft.ops.PrefixSum.withGroupedRunningTotal(
        docs.select(col("doc_id"), col("source")).join(sc, Seq("doc_id")),
        "__rank", Seq("source"), lit(1L),
        Seq(col("avg_mi").desc, col("doc_id")), cntCol = Some("__n"))
      ranked
        .withColumn("b",
          graft.ops.PrefixSum.ntileFromRank(col("__rank"), col("__n"), 3))
        .select(col("doc_id"), col("source"), col("avg_mi"),
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    },

    // Mojibake repair graded end to end: doc_id classes plant UTF-8-
    // read-as-Latin-1 damage (Ã© for é, Ã¯ for ï), clean ASCII, and
    // the heuristic's near-miss (a REAL Latin-1 'À' followed by a
    // space — lead byte range but no continuation pairing, must NOT
    // repair). The Spark side runs the actual detection regex and the
    // encode/decode inversion; the oracle does NOT replay the
    // transcode — it constructs the expected repaired text
    // independently from chr() arithmetic (the mm_container_meta
    // grading pattern), so a wrong charset, a lossy pass, or an
    // over-eager heuristic hash-mismatches.
    QueryDef("text_mojibake_repair",
      """SELECT doc_id,
        |  CAST(doc_id % 4 AS INT) IN (0, 1) AS mojibake,
        |  text || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN ' menu caf' || chr(233) || ' list'
        |    WHEN 1 THEN ' na' || chr(239) || 've words'
        |    WHEN 2 THEN ' plain tail'
        |    ELSE ' ' || chr(192) || ' la carte' END AS fixed
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val m = col("doc_id") % 4
      // explicit escapes (mojibake pairs: C3+continuation; class 3 is
      // a REAL Latin-1 letter) — literal non-ASCII in source would be
      // at the mercy of editor/toolchain re-encoding
      val planted = concat(col("text"),
        when(m === 0, lit(" menu caf\u00c3\u00a9 list"))
          .when(m === 1, lit(" na\u00c3\u00afve words"))
          .when(m === 2, lit(" plain tail"))
          .otherwise(lit(" \u00c0 la carte")))
      Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.looksMojibake(planted).as("mojibake"),
          TextAnalysis.fixMojibake(planted).as("fixed"))
        .orderBy("doc_id")
    },

    // The curation FUNNEL — per-stage attrition accounting for a
    // four-gate chain (encoding → wordlist → exact dedup → domain
    // cap), the report every production pipeline publishes next to
    // its corpus: stage, docs in, docs kept, integral drop permil.
    // Hazards planted per stage from doc_id arithmetic (U+FFFD spill
    // every 13th doc, the shared-boiler dup classes, the co.uk
    // publisher cap), wordlist drops ride real token variation. Each
    // stage filters the SURVIVORS of the previous — the oracle replays
    // the whole chain, so one gate mis-ordered or one count taken on
    // the wrong frame hash-mismatches. Counts are 1-row aggregates
    // fanned out over broadcasts (the dq_constraint_report shape).
    QueryDef("pipeline_corpus_funnel",
      s"""WITH d0 AS (
        |  SELECT doc_id, source, text || CASE WHEN doc_id % 13 = 0
        |    THEN ' ' || chr(65533) ELSE '' END AS text
        |  FROM documents),
        |s1 AS (SELECT * FROM d0 WHERE strpos(text, chr(65533)) = 0),
        |s2 AS (
        |  SELECT * FROM s1
        |  WHERE len(list_filter(string_split(text, ' '),
        |      t -> t IN ('slow', 'big'))) * 1000
        |    <= 100 * len(string_split(text, ' '))),
        |s2c AS (
        |  SELECT *, CASE WHEN doc_id % 7 <= 1 THEN 'shared boiler alpha'
        |    WHEN doc_id % 7 = 2 THEN 'shared boiler beta'
        |    ELSE text END AS content
        |  FROM s2),
        |s3 AS (
        |  SELECT doc_id, source FROM s2c
        |  WHERE doc_id IN (SELECT min(doc_id) FROM s2c GROUP BY content)),
        |h AS (SELECT doc_id, $sqlDomainHost AS host FROM s3),
        |r AS (
        |  SELECT doc_id, coalesce($sqlRegisteredDomain, '(none)')
        |    AS domain
        |  FROM (SELECT doc_id, string_split(host, '.') AS l FROM h)),
        |s4 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY domain
        |      ORDER BY doc_id) AS rk FROM r)
        |  WHERE rk <= 4),
        |c0 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM d0),
        |c1 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM s1),
        |c2 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM s2),
        |c3 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM s3),
        |c4 AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM s4)
        |SELECT stage_no, stage, n_in, n_kept,
        |  (n_in - n_kept) * 1000 // n_in AS drop_permil
        |FROM (
        |  SELECT 1 AS stage_no, 'encoding' AS stage,
        |    (SELECT n FROM c0) AS n_in, (SELECT n FROM c1) AS n_kept
        |  UNION ALL SELECT 2, 'wordlist',
        |    (SELECT n FROM c1), (SELECT n FROM c2)
        |  UNION ALL SELECT 3, 'dedup_exact',
        |    (SELECT n FROM c2), (SELECT n FROM c3)
        |  UNION ALL SELECT 4, 'domain_cap',
        |    (SELECT n FROM c3), (SELECT n FROM c4))
        |ORDER BY stage_no""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val d0 = Tables.documents(s, d).select(col("doc_id"), col("source"),
        concat(col("text"), when(col("doc_id") % 13 === 0,
          lit(" \uFFFD")).otherwise(lit(""))).as("text"))
      val s1 = d0.filter(!col("text").contains("\uFFFD"))
      val s2 = s1.filter(
        size(filter(TextAnalysis.tokens(col("text")),
          t => t.isin("slow", "big"))) * 1000 <=
          lit(100) * size(TextAnalysis.tokens(col("text"))))
      val s2c = s2.withColumn("content",
        when(col("doc_id") % 7 <= 1, lit("shared boiler alpha"))
          .when(col("doc_id") % 7 === 2, lit("shared boiler beta"))
          .otherwise(col("text")))
      val s3 = s2c
        .join(s2c.groupBy("content").agg(min("doc_id").as("doc_id"))
          .select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "source")
      val s4 = s3
        .select(col("doc_id"), coalesce(
          graft.ext.UrlNormalize.registeredDomain(
            domainHost, DomainSuffixes), lit("(none)")).as("domain"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("domain").orderBy("doc_id")))
        .filter(col("rk") <= 4)
      def cnt(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).cast("long").as("n"))
      val stages = Seq(
        (1, "encoding", d0, s1), (2, "wordlist", s1, s2),
        (3, "dedup_exact", s2, s3.toDF), (4, "domain_cap", s3.toDF, s4))
      stages.map { case (i, nm, in, out) =>
        cnt(in).withColumnRenamed("n", "n_in")
          .crossJoin(broadcast(cnt(out).withColumnRenamed("n", "n_kept")))
          .select(lit(i).as("stage_no"), lit(nm).as("stage"),
            col("n_in"), col("n_kept"),
            expr("(n_in - n_kept) * CAST(1000 AS BIGINT) div n_in")
              .as("drop_permil"))
      }.reduce(_ unionByName _).orderBy("stage_no")
    },

    // Export integrity manifest — the verification half of a 100 TB
    // shard fan-out: per shard, counts, token totals, epoch-order
    // endpoints, and an ORDER-INDEPENDENT content checksum
    // (Σ h31(id|text) — exact integer sum, so a consumer revalidates
    // a shard with one map-only pass in ANY read order; a whole-shard
    // concatenated hash would pin one). The oracle recomputes every
    // column including the checksum, so a single flipped byte, a
    // dropped row, or a mis-assigned shard hash-mismatches.
    QueryDef("pipeline_export_manifest",
      s"""WITH a AS (
        |  SELECT doc_id, text,
        |    ${sqlH31("CAST(doc_id AS VARCHAR) || '#epoch-1'")} AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, text, h % 16 AS shard_id,
        |    h * 10000000 + doc_id % 10000000 AS k, nt
        |  FROM a)
        |SELECT shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(SUM(${sqlH31("CAST(doc_id AS VARCHAR) || '|' || text")})
        |    AS BIGINT) AS checksum,
        |  arg_min(doc_id, k) AS first_doc,
        |  arg_max(doc_id, k) AS last_doc
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      graft.ops.ShardShuffle.integrityManifest(
          Tables.documents(s, d), "doc_id", "text",
          TextAnalysis.nTokens(col("text")), seed = "epoch-1",
          numShards = 16)
        .orderBy("shard_id")
    },

    // SFT conversation-format validation — the instruction-data QA
    // gate: each doc synthesizes a chat transcript as a REAL JSON
    // string (2-6 messages from doc_id arithmetic, roles alternating
    // from 'user'; every 11th doc plants a double-'user' violation),
    // the engine PARSES it back (from_json with an array-of-struct
    // schema — the machinery an SFT pipeline runs on raw JSONL) and
    // validates: starts with user, strictly alternating, ends on
    // assistant. Map-only; both dialects build byte-identical JSON
    // and re-derive every verdict from the parsed form, not the
    // arithmetic — a parser or indexing slip hash-mismatches.
    QueryDef("text_chat_turns",
      """WITH c AS (
        |  SELECT doc_id, doc_id % 5 + 2 AS n,
        |    '[' || array_to_string(list_transform(
        |      range(0, CAST(doc_id % 5 + 2 AS BIGINT)),
        |      i -> '{"role":"' ||
        |        CASE WHEN doc_id % 11 = 0 AND i = 1 THEN 'user'
        |          WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END ||
        |        '","content":"w' || CAST(doc_id % 7 AS VARCHAR) ||
        |        '-' || CAST(i AS VARCHAR) || '"}'), ',') || ']' AS j
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    list_transform(range(0,
        |        CAST(json_array_length(j::JSON) AS BIGINT)),
        |      i -> json_extract_string(j::JSON,
        |        '$[' || CAST(i AS VARCHAR) || '].role')) AS roles
        |  FROM c)
        |SELECT doc_id,
        |  CAST(len(roles) AS BIGINT) AS n_msgs,
        |  CAST(len(list_filter(range(1, CAST(len(roles) AS BIGINT)),
        |    i -> roles[i + 1] = roles[i])) AS BIGINT) AS violations,
        |  roles[1] = 'user' AS starts_user,
        |  roles[len(roles)] = 'assistant' AS ends_assistant,
        |  len(list_filter(range(1, CAST(len(roles) AS BIGINT)),
        |    i -> roles[i + 1] = roles[i])) = 0
        |    AND roles[1] = 'user'
        |    AND roles[len(roles)] = 'assistant' AS valid
        |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      val n = col("doc_id") % 5 + 2
      val msg = expr(
        """transform(sequence(0, CAST(doc_id % 5 + 1 AS INT)), i ->
          |  concat('{"role":"',
          |    CASE WHEN doc_id % 11 = 0 AND i = 1 THEN 'user'
          |      WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END,
          |    '","content":"w', CAST(doc_id % 7 AS STRING),
          |    '-', CAST(i AS STRING), '"}'))""".stripMargin)
      val j = concat(lit("["), array_join(msg, ","), lit("]"))
      val roles = expr(
        "transform(from_json(j, 'array<struct<role string," +
          " content string>>'), m -> m.role)")
      Tables.documents(s, d)
        .select(col("doc_id"), n.as("n"), j.as("j"))
        .select(col("doc_id"), roles.as("roles"))
        .select(col("doc_id"),
          size(col("roles")).cast("long").as("n_msgs"),
          expr("CAST(size(filter(sequence(1, size(roles) - 1)," +
            " i -> element_at(roles, i + 1) = element_at(roles, i)))" +
            " AS BIGINT)").as("violations"),
          expr("element_at(roles, 1) = 'user'").as("starts_user"),
          expr("element_at(roles, size(roles)) = 'assistant'")
            .as("ends_assistant"))
        .withColumn("valid", col("violations") === 0L &&
          col("starts_user") && col("ends_assistant"))
        .orderBy("doc_id")
    },

    // DPO preference-pair construction — the reward-data assembly
    // step: adjacent documents within a source pair up, the higher
    // integral LM score is 'chosen', ties break to the smaller doc_id,
    // and the margin rides along for margin-weighted loss variants.
    // Odd tail docs drop (no partner). The preference signal is the
    // transcendental-free bigram-LM micro-average, so every pair
    // verdict and margin is exactly replayable. The oracle SAYS
    // `row_number/lead OVER (PARTITION BY source)`, but with a
    // handful of sources that window funnels ~corpus/|sources| rows
    // into one sorting task at 100 TB — the engine instead assigns
    // per-source ordinals with the range-partitioned PrefixSum grouped
    // ordinal and pairs by `(ordinal-1) div 2` through a keyed agg
    // (pair keys are high-cardinality, hash-partitioned). Hashes
    // unchanged; shared with pipeline_dpo_shards via [[dpoPairsOf]].
    QueryDef("train_dpo_pairs",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM t),
        |m AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
        |m2 AS (SELECT bigram, cnt, string_split(bigram, ' ')[1] AS w1
        |       FROM m),
        |pf AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS prefix_cnt
        |       FROM m2 GROUP BY w1),
        |mp AS (SELECT m2.bigram,
        |         CAST(floor(1000000.0 * cnt / prefix_cnt) AS BIGINT) AS p
        |       FROM m2 JOIN pf ON pf.w1 = m2.w1),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(SUM(p) AS BIGINT) // COUNT(*) AS avg_mi
        |  FROM bg JOIN mp ON mp.bigram = bg.bigram
        |  GROUP BY doc_id),
        |r AS (
        |  SELECT d.doc_id, d.source, sc.avg_mi,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY d.doc_id) AS rn,
        |    lead(d.doc_id) OVER (PARTITION BY d.source
        |      ORDER BY d.doc_id) AS partner_id,
        |    lead(sc.avg_mi) OVER (PARTITION BY d.source
        |      ORDER BY d.doc_id) AS partner_mi
        |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id)
        |SELECT source,
        |  CASE WHEN partner_mi > avg_mi THEN partner_id
        |    ELSE doc_id END AS chosen_id,
        |  CASE WHEN partner_mi > avg_mi THEN doc_id
        |    ELSE partner_id END AS rejected_id,
        |  abs(avg_mi - partner_mi) AS margin
        |FROM r WHERE rn % 2 = 1 AND partner_id IS NOT NULL
        |ORDER BY source, chosen_id, rejected_id""".stripMargin) {
      (s, d) =>
      dpoPairsOf(Tables.documents(s, d))
        .orderBy("source", "chosen_id", "rejected_id")
    },

    // Gate marginal-contribution audit — the filter-redundancy
    // question every multi-gate pipeline owes an answer to: for each
    // of three INDEPENDENTLY-evaluated gates (encoding-clean,
    // wordlist, exact-dedup representative), how many docs does it
    // drop, and how many does it drop UNIQUELY (kept by both
    // others)? A gate with zero unique drops is redundant — candidate
    // for removal at 100 TB where each gate is a corpus pass. Gates
    // reuse the funnel's planted hazards; all three verdicts come
    // from one shared scan.
    QueryDef("dq_gate_marginals",
      """WITH d0 AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 13 = 0
        |    THEN ' ' || chr(65533) ELSE '' END AS text
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    strpos(text, chr(65533)) = 0 AS g_enc,
        |    len(list_filter(string_split(text, ' '),
        |      t -> t IN ('slow', 'big'))) * 1000
        |      <= 100 * len(string_split(text, ' ')) AS g_word,
        |    doc_id IN (SELECT min(doc_id) FROM (
        |      SELECT doc_id, CASE WHEN doc_id % 7 <= 1
        |        THEN 'shared boiler alpha'
        |        WHEN doc_id % 7 = 2 THEN 'shared boiler beta'
        |        ELSE text END AS content FROM d0)
        |      GROUP BY content) AS g_dedup
        |  FROM d0)
        |SELECT gate, n_drop, n_unique_drop,
        |  n_drop * 1000 // (SELECT COUNT(*) FROM g) AS drop_permil
        |FROM (
        |  SELECT 'encoding' AS gate,
        |    CAST(COUNT(*) FILTER (NOT g_enc) AS BIGINT) AS n_drop,
        |    CAST(COUNT(*) FILTER (NOT g_enc AND g_word AND g_dedup)
        |      AS BIGINT) AS n_unique_drop FROM g
        |  UNION ALL SELECT 'wordlist',
        |    CAST(COUNT(*) FILTER (NOT g_word) AS BIGINT),
        |    CAST(COUNT(*) FILTER (NOT g_word AND g_enc AND g_dedup)
        |      AS BIGINT) FROM g
        |  UNION ALL SELECT 'dedup_exact',
        |    CAST(COUNT(*) FILTER (NOT g_dedup) AS BIGINT),
        |    CAST(COUNT(*) FILTER (NOT g_dedup AND g_enc AND g_word)
        |      AS BIGINT) FROM g)
        |ORDER BY gate""".stripMargin) { (s, d) =>
      val d0 = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 13 === 0,
          lit(" \uFFFD")).otherwise(lit(""))).as("text"))
      val content = when(col("doc_id") % 7 <= 1,
          lit("shared boiler alpha"))
        .when(col("doc_id") % 7 === 2, lit("shared boiler beta"))
        .otherwise(col("text"))
      val keepers = d0.select(col("doc_id"), content.as("content"))
        .groupBy("content").agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), lit(true).as("g_dedup"))
      val g = d0
        .select(col("doc_id"),
          (!col("text").contains("\uFFFD")).as("g_enc"),
          (size(filter(TextAnalysis.tokens(col("text")),
            t => t.isin("slow", "big"))) * 1000 <=
            lit(100) * size(TextAnalysis.tokens(col("text"))))
            .as("g_word"))
        .join(keepers, Seq("doc_id"), "left_outer")
        .na.fill(false, Seq("g_dedup"))
      val total = g.agg(count(lit(1)).cast("long").as("t"))
      def row(name: String, self: org.apache.spark.sql.Column,
          others: org.apache.spark.sql.Column) =
        g.agg(
          sum(when(!self, 1L).otherwise(0L)).cast("long").as("n_drop"),
          sum(when(!self && others, 1L).otherwise(0L)).cast("long")
            .as("n_unique_drop"))
          .select(lit(name).as("gate"), col("n_drop"),
            col("n_unique_drop"))
      Seq(
        row("dedup_exact", col("g_dedup"), col("g_enc") && col("g_word")),
        row("encoding", col("g_enc"), col("g_word") && col("g_dedup")),
        row("wordlist", col("g_word"), col("g_enc") && col("g_dedup")))
        .reduce(_ unionByName _)
        .crossJoin(broadcast(total))
        .select(col("gate"), col("n_drop"), col("n_unique_drop"),
          expr("n_drop * CAST(1000 AS BIGINT) div t").as("drop_permil"))
        .orderBy("gate")
    },
  )

  /** Suffix rules for the domain-governance queries — explicit PSL
    * subset (the caller-supplied frozen-list contract; the full list
    * is bounded state like the BPE merge table). */
  private val DomainSuffixes = Seq("co.uk", "com", "org")

  /** Host synthesized from doc_id arithmetic: two subdomain spellings
    * of one co.uk publisher per source, a .com apex, a deep host on an
    * UNLISTED TLD (prevailing-rule path), and a bare public suffix
    * every 97 docs (the no-registered-domain edge). The variant key is
    * `doc_id div 4 % 4`, NOT `doc_id % 4` — the fixture's source is
    * `doc_id % 20` and 4 | 20, so a plain mod-4 key would be constant
    * per source and the www./news. publisher fusion would never
    * exercise. */
  private def domainHost: org.apache.spark.sql.Column = {
    val m = expr("doc_id div 4 % 4")
    when(col("doc_id") % 97 === 0, lit("co.uk"))
      .when(m === 0, concat(lit("www."), col("source"), lit(".co.uk")))
      .when(m === 1, concat(lit("news."), col("source"), lit(".co.uk")))
      .when(m === 2, concat(col("source"), lit(".com")))
      .otherwise(concat(lit("cdn.static."), col("source"), lit(".io")))
  }

  private def sqlDomainHost: String =
    "CASE WHEN doc_id % 97 = 0 THEN 'co.uk' " +
      "WHEN doc_id // 4 % 4 = 0 THEN 'www.' || source || '.co.uk' " +
      "WHEN doc_id // 4 % 4 = 1 THEN 'news.' || source || '.co.uk' " +
      "WHEN doc_id // 4 % 4 = 2 THEN source || '.com' " +
      "ELSE 'cdn.static.' || source || '.io' END"

  /** DuckDB twin of [[graft.ext.UrlNormalize.registeredDomain]] over a
    * pre-split label list `l` and the [[DomainSuffixes]] rules:
    * longest listed suffix first (only `co.uk` is multi-label), then
    * the prevailing * rule; NULL when the host IS the suffix. */
  private def sqlRegisteredDomain: String =
    "(SELECT CASE WHEN len(l) >= dep + 1 THEN " +
      "array_to_string(l[-(dep+1):], '.') END FROM (SELECT " +
      "CASE WHEN len(l) >= 2 AND array_to_string(l[-2:], '.') " +
      "IN ('co.uk') THEN 2 ELSE 1 END AS dep))"

  /** DuckDB replay of the pipeline_html_curate flagship — six stages
    * in the exact operator order, built from the shared extraction
    * helpers. */
  private def sqlHtmlCurateOracle: String = {
    val vis = sqlVisible("raw")
    val noa = sqlVisible("regexp_replace(raw, " +
      "'(?is)<a\\b[^>]*>.*?</a[ \\t\\r\\n\\f]*>', '', 'g')")
    s"""WITH src AS (
       |  SELECT doc_id, CASE WHEN doc_id % 19 < 2
       |    THEN '<p>shared mirror page</p><p>subscribe now</p>'
       |    ELSE '<html><body><p>' || text ||
       |      CASE WHEN doc_id % 11 = 0 THEN chr(65533) ELSE '' END ||
       |      '</p>' ||
       |      CASE WHEN doc_id % 13 = 0
       |        THEN '<p>this is blocked content</p>' ELSE '' END ||
       |      '<p>subscribe now</p><p>subscribe now</p>' ||
       |      '<ul><li><a href="/l">Link One</a></li>' ||
       |      '<li><a href="/l">Link Two</a></li></ul>' ||
       |      CASE WHEN doc_id % 17 = 0
       |        THEN '<p>### ### ### ### ###</p>' ELSE '' END ||
       |      '<p>tail ' || CAST(doc_id AS VARCHAR) || '</p></body></html>'
       |    END AS html
       |  FROM documents),
       |blk AS (SELECT doc_id, ${sqlHtmlNoiseBlock("html")} AS b FROM src),
       |lsx AS (SELECT doc_id, string_split(b, chr(10)) AS l FROM blk),
       |ixx AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
       |        FROM lsx),
       |rwx AS (SELECT doc_id, i - 1 AS line_no, list_extract(l, i) AS raw
       |        FROM ixx),
       |vl AS (SELECT doc_id, line_no, $vis AS line, $noa AS noal
       |       FROM rwx),
       |kept AS (
       |  SELECT doc_id, line_no, line FROM vl
       |  WHERE length(line) > 0 AND
       |    ((length(line) - length(noal)) * 1000) // length(line) <= 500),
       |ext AS (
       |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS t
       |  FROM kept GROUP BY doc_id),
       |dl AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM ext),
       |di AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM dl),
       |dr AS (SELECT doc_id, i, list_extract(l, i) AS line FROM di),
       |dg AS (SELECT doc_id, line, MIN(i) AS first, COUNT(*) AS occ
       |       FROM dr GROUP BY 1, 2),
       |dd AS (
       |  SELECT doc_id,
       |    string_agg(line, chr(10) ORDER BY first) AS t,
       |    CAST(SUM(occ) AS BIGINT) AS n_lines,
       |    COUNT(*) AS n_kept
       |  FROM dg GROUP BY doc_id),
       |enc AS (
       |  SELECT * FROM dd
       |  WHERE length(t) > 0 AND
       |    ((length(t) - length(regexp_replace(t, '\\x{FFFD}', '', 'g')))
       |      * 1000) // length(t) = 0),
       |wl AS (
       |  SELECT * FROM enc
       |  WHERE len(list_filter(string_split(lower(t), ' '),
       |    x -> x = 'blocked')) = 0),
       |gop AS (
       |  SELECT * FROM wl
       |  WHERE (len(list_filter(string_split(t, ' '),
       |      x -> regexp_matches(x, '^(#+|\\.\\.\\.|…)$$'))) * 1000)
       |    // len(string_split(t, ' ')) <= 30),
       |cnt AS (
       |  SELECT md5(t) AS h, COUNT(*) AS dup_count FROM gop GROUP BY 1)
       |SELECT g.doc_id, g.n_lines, g.n_kept, c.dup_count
       |FROM gop g JOIN cnt c ON md5(g.t) = c.h
       |WHERE ('0x' || substring(md5(CAST(g.doc_id AS VARCHAR)), 1, 15))
       |    ::BIGINT % 2147483647 % 1000 < 1000 // c.dup_count
       |ORDER BY g.doc_id""".stripMargin
  }

  /** DuckDB replay of text_line_repetition: HTML synth → the
    * [[sqlHtmlNoiseBlock]]/[[sqlVisible]] extraction chain → the
    * (doc, line)-keyed repetition rollup. */
  private def sqlLineRepetitionOracle: String = {
    val vis = sqlVisible("raw")
    s"""WITH src AS (
       |  SELECT doc_id,
       |    '<p>' || text || '</p>'
       |    || CASE CAST(doc_id % 3 AS INT)
       |       WHEN 0 THEN '<li><a href="/n">Nav Item</a></li>'
       |       WHEN 1 THEN repeat('<li><a href="/n">Nav Item</a></li>', 2)
       |       ELSE repeat('<li><a href="/n">Nav Item</a></li>', 3) END
       |    || '<p>tail ' || CAST(doc_id AS VARCHAR) || '</p>' AS html
       |  FROM documents),
       |blk AS (SELECT doc_id, ${sqlHtmlNoiseBlock("html")} AS b FROM src),
       |ls AS (SELECT doc_id, string_split(b, chr(10)) AS l FROM blk),
       |ix AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM ls),
       |rw AS (SELECT doc_id, list_extract(l, i) AS raw FROM ix),
       |vis AS (SELECT doc_id, $vis AS line FROM rw),
       |c AS (
       |  SELECT doc_id, line, COUNT(*) AS cnt, length(line) AS chars
       |  FROM vis WHERE length(line) > 0 GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(SUM(cnt) AS BIGINT) AS n_lines,
       |  CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS n_dup_lines,
       |  CAST(((SUM(cnt) - COUNT(*)) * 1000) // SUM(cnt) AS BIGINT)
       |    AS dup_line_permil,
       |  CAST(SUM(cnt * chars) AS BIGINT) AS total_chars,
       |  CAST(CASE WHEN SUM(cnt * chars) > 0
       |    THEN (SUM((cnt - 1) * chars) * 1000) // SUM(cnt * chars)
       |    ELSE 0 END AS BIGINT) AS dup_char_permil
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of text_sentences: hash-planted periods →
    * marker-insertion split (`\\1`-style group ref — same semantics as
    * Spark's `$1`) → trim/filter → terminal-punct and length stats. */
  private def sqlSentencesOracle: String =
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
       |st AS (
       |  SELECT doc_id, CAST(len(l) AS BIGINT) AS n,
       |    CAST(len(list_filter(l,
       |      s -> regexp_matches(s, '[.!?]["'')\\]]*$$'))) AS BIGINT)
       |      AS term,
       |    CAST(length(array_to_string(l, '')) AS BIGINT) AS chars
       |  FROM ss)
       |SELECT doc_id, n AS n_sentences, term AS n_terminal,
       |  CASE WHEN n > 0 THEN (term * 1000) // n ELSE 0 END
       |    AS terminal_permil,
       |  CASE WHEN n > 0 THEN (chars * 100) // n ELSE 0 END
       |    AS mean_sentence_chars_x100
       |FROM st ORDER BY doc_id""".stripMargin

  /** DuckDB replay of text_gopher_signals over the same planted
    * word-shape variety. */
  private def sqlGopherOracle: String =
    """WITH planted AS (
      |  SELECT doc_id, text ||
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN ' ### 123' WHEN 1 THEN ' ... a9 x'
      |      WHEN 2 THEN ' ab12cd' ELSE '' END AS p
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, p, string_split(p, ' ') AS toks FROM planted),
      |st AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n,
      |    CAST(length(array_to_string(toks, '')) AS BIGINT) AS chars,
      |    CAST(len(list_filter(toks,
      |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
      |    CAST(len(list_filter(toks,
      |      x -> regexp_matches(x, '^(#+|\.\.\.|…)$'))) AS BIGINT)
      |      AS symbols,
      |    CAST(length(regexp_replace(p, '[^0-9]', '', 'g')) AS BIGINT)
      |      AS digits,
      |    CAST(length(p) AS BIGINT) AS all_chars
      |  FROM t)
      |SELECT doc_id, n AS n_words,
      |  CASE WHEN n > 0 THEN (chars * 100) // n ELSE 0 END
      |    AS mean_word_len_x100,
      |  CASE WHEN n > 0 THEN (alpha * 1000) // n ELSE 0 END
      |    AS alpha_word_permil,
      |  CASE WHEN n > 0 THEN (symbols * 1000) // n ELSE 0 END
      |    AS symbol_word_permil,
      |  CASE WHEN all_chars > 0 THEN (digits * 1000) // all_chars
      |       ELSE 0 END AS digit_char_permil
      |FROM st ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[graft.ext.HtmlExtract.visibleText]] over a SQL
    * expression: tag strip → entity decode (&amp; last) → whitespace
    * collapse → trim. Built in the shared Java-regex/RE2 dialect. */
  private def sqlVisible(e: String): String =
    "trim(regexp_replace(" +
      "replace(replace(replace(replace(replace(replace(replace(" +
      s"regexp_replace($e, '(?s)<[^>]*>', '', 'g'), " +
      "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
      "'&#39;', ''''), '&apos;', ''''), '&amp;', '&'), " +
      "'[ \\t\\r\\n\\f]+', ' ', 'g'))"

  /** DuckDB replay of [[graft.ext.HtmlExtract.stripNoise]] +
    * [[graft.ext.HtmlExtract.blockLines]]: paired script → paired
    * style → unterminated raw-text tail → comments → source newlines
    * to spaces → block tags to newline. Stage order mirrored exactly. */
  private def sqlHtmlNoiseBlock(e: String): String =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace(regexp_replace($e, " +
      "'(?is)<script\\b[^>]*>.*?</script[ \\t\\r\\n\\f]*>', '', 'g'), " +
      "'(?is)<style\\b[^>]*>.*?</style[ \\t\\r\\n\\f]*>', '', 'g'), " +
      "'(?is)<(script|style)\\b[^>]*>.*', '', 'g'), " +
      "'(?s)<!--.*?-->', '', 'g'), " +
      "'[\\t\\r\\n\\f]+', ' ', 'g'), " +
      "'(?i)</?(p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|tr|td|th|table" +
      "|thead|tbody|tfoot|caption|blockquote|pre|section|article|aside" +
      "|nav|header|footer|figure|figcaption|form|fieldset|legend|title" +
      "|head|body|html)\\b[^>]*>', chr(10), 'g')"

  private def sqlHtmlExtractOracle: String = {
    val vis = sqlVisible("raw")
    val noa = sqlVisible("regexp_replace(raw, " +
      "'(?is)<a\\b[^>]*>.*?</a[ \\t\\r\\n\\f]*>', '', 'g')")
    s"""WITH src AS (
       |  SELECT doc_id,
       |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
       |    || '</title>' || '<style>p{color:red}</style>'
       |    || '<script>var x="</div>";</script></head>'
       |    || '<body><!-- hidden ' || CAST(doc_id AS VARCHAR) || ' -->'
       |    || '<h1>Header &amp; ' || CAST(doc_id AS VARCHAR) || '</h1>'
       |    || '<p>' || text || '</p>'
       |    || '<ul><li><a href="/a">Nav One</a></li>'
       |    || '<li><a href="/b">Nav Two</a></li></ul>'
       |    || '<div>Tail &lt;' || CAST(doc_id AS VARCHAR)
       |    || '&gt;&nbsp;end</div></body></html>' AS html
       |  FROM documents),
       |blk AS (SELECT doc_id, ${sqlHtmlNoiseBlock("html")} AS b FROM src),
       |ls AS (SELECT doc_id, string_split(b, chr(10)) AS l FROM blk),
       |ix AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM ls),
       |rw AS (SELECT doc_id, i - 1 AS line_no, list_extract(l, i) AS raw
       |       FROM ix),
       |vis AS (SELECT doc_id, line_no, $vis AS line, $noa AS noa FROM rw)
       |SELECT doc_id, line_no, line,
       |  ((length(line) - length(noa)) * 1000) // length(line)
       |    AS link_permil
       |FROM vis WHERE length(line) > 0
       |ORDER BY doc_id, line_no""".stripMargin
  }

  /** The shared jusText fixture: every document's markup shell plants
    * one block per verdict class AND one per context-revision branch
    * (see the three `text_justext_*` / `pipeline_justext_extract`
    * QueryDefs). Spark side of the oracle's `src` CTE. */
  private def justextSrc(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val id = col("doc_id")
    val goodBlock = "<p>" + ("the a " * 60).trim + "</p>"
    val html = concat(
      lit("<html><body><p>"), col("text"), lit("</p>"),
      lit("<ul><li><a href=\"/x\">Nav One</a></li>"),
      lit("<li><a href=\"/y\">Nav Two</a></li></ul>"),
      when(id % 5 === 0, lit("<p>short isolated note</p>"))
        .otherwise(lit("")),
      when(id % 7 === 0,
        lit("<p><a href=\"/m\">more</a> see details</p>"))
        .otherwise(lit("")),
      lit(goodBlock),
      when(id % 11 === 0, lit("<p>short middle</p>" + goodBlock))
        .otherwise(lit("")),
      when(id % 3 === 0, lit("<p>" + ("the a " * 20).trim + "</p>"))
        .otherwise(lit("")),
      lit("<p>tail "), id.cast("string"), lit("</p></body></html>"))
    Tables.documents(s, d).select(id, html.as("html"))
  }

  /** Deliberately-messy caller stopword list (normalization is part of
    * the grade): normalized form is ['a', 'and', 'of', 'the']. */
  private def justextWords(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Seq("the", "a", " THE ", "of", "and", "x y").toDF("word")
  }

  /** DuckDB replay of [[graft.ext.HtmlExtract.justextBlocks]] over the
    * planted markup shell, as a WITH-body ending in `cl(doc_id,
    * line_no, line, link_permil, n_words, stop_permil, cls)`:
    * extraction chain → per-line stopword permil (normalized literal
    * list) → the five-way verdict CASE in jusText decision order with
    * the default thresholds (200/70/200/300/320). Shared by the three
    * justext QueryDefs. */
  private def sqlJustextClassifiedCtes: String = {
    val vis = sqlVisible("raw")
    val noa = sqlVisible("regexp_replace(raw, " +
      "'(?is)<a\\b[^>]*>.*?</a[ \\t\\r\\n\\f]*>', '', 'g')")
    s"""src AS (
       |  SELECT doc_id,
       |    '<html><body><p>' || text || '</p>'
       |    || '<ul><li><a href="/x">Nav One</a></li>'
       |    || '<li><a href="/y">Nav Two</a></li></ul>'
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN '<p>short isolated note</p>' ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0
       |         THEN '<p><a href="/m">more</a> see details</p>'
       |         ELSE '' END
       |    || '<p>' || trim(repeat('the a ', 60)) || '</p>'
       |    || CASE WHEN doc_id % 11 = 0
       |         THEN '<p>short middle</p><p>'
       |           || trim(repeat('the a ', 60)) || '</p>'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 3 = 0
       |         THEN '<p>' || trim(repeat('the a ', 20)) || '</p>'
       |         ELSE '' END
       |    || '<p>tail ' || CAST(doc_id AS VARCHAR)
       |    || '</p></body></html>' AS html
       |  FROM documents),
       |blk AS (SELECT doc_id, ${sqlHtmlNoiseBlock("html")} AS b FROM src),
       |ls AS (SELECT doc_id, string_split(b, chr(10)) AS l FROM blk),
       |ix AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM ls),
       |rw AS (SELECT doc_id, i - 1 AS line_no, list_extract(l, i) AS raw
       |       FROM ix),
       |vis AS (SELECT doc_id, line_no, $vis AS line, $noa AS noa FROM rw),
       |lp AS (
       |  SELECT doc_id, line_no, line,
       |    ((length(line) - length(noa)) * 1000) // length(line)
       |      AS link_permil,
       |    CAST(len(string_split(lower(line), ' ')) AS BIGINT)
       |      AS n_words,
       |    CAST(len(list_filter(string_split(lower(line), ' '),
       |      t -> list_contains(['a', 'and', 'of', 'the'], t)))
       |      AS BIGINT) AS n_stop
       |  FROM vis WHERE length(line) > 0),
       |cl AS (
       |  SELECT doc_id, CAST(line_no AS BIGINT) AS line_no, line,
       |    CAST(link_permil AS BIGINT) AS link_permil, n_words,
       |    (n_stop * 1000) // n_words AS stop_permil,
       |    CASE
       |      WHEN link_permil > 200 THEN 'bad'
       |      WHEN length(line) < 70 THEN
       |        CASE WHEN link_permil > 0 THEN 'bad' ELSE 'short' END
       |      WHEN (n_stop * 1000) // n_words >= 320 THEN
       |        CASE WHEN length(line) > 200 THEN 'good'
       |        ELSE 'neargood' END
       |      WHEN (n_stop * 1000) // n_words >= 300 THEN 'neargood'
       |      ELSE 'bad'
       |    END AS cls
       |  FROM lp)"""
    // NO stripMargin here: this body interpolates into QueryDef SQL
    // templates that strip the margins ONCE for the whole string —
    // stripping twice would eat one pipe of every '||' concatenation
  }

  /** DuckDB replay of [[graft.ext.TextAnalysis.wordlistHits]] +
    * [[graft.ext.TextAnalysis.wordlistFilter]] (maxPermil = 20) over
    * the same deliberately-messy literal wordlist. */
  private def sqlWordlistOracle: String =
    """WITH wl AS (
      |  SELECT DISTINCT lower(trim(word)) AS w
      |  FROM (VALUES ('slow'), ('big'), ('scan'), ('the'), ('zzz'),
      |        (' SCAN '), ('a b')) t(word)
      |  WHERE length(trim(word)) > 0
      |    AND NOT regexp_matches(lower(trim(word)), '\s')),
      |base AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, count(*) AS hits
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM base) tk
      |  JOIN wl ON tk.tok = wl.w
      |  GROUP BY doc_id),
      |a AS (
      |  SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS tokens,
      |    COALESCE(h.hits, 0) AS hits
      |  FROM base b LEFT JOIN h USING (doc_id))
      |SELECT doc_id, tokens, hits,
      |  CASE WHEN tokens > 0 THEN (hits * 1000) // tokens
      |       ELSE 0 END AS hit_permil,
      |  hits * 1000 <= 20 * tokens AS kept
      |FROM a ORDER BY doc_id""".stripMargin

  /** Shared DuckDB CTE chain ending in `wts(doc_id, n_feat, weight)` —
    * the [[graft.ext.TextAnalysis.dsirWeights]] replay (hashed
    * unigram+bigram bags, add-one-smoothed likelihood ratios, sorted
    * product fold). Used by text_dsir_weights and text_dsir_resample. */
  private def sqlDsirWeightCtes: String =
    s"""tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
       |            FROM documents),
       |feat AS (
       |  SELECT doc_id, source, unnest(list_concat(
       |    list_transform(t, x -> ${sqlH31("x")} % 256),
       |    list_transform(range(1, len(t)),
       |      i -> ${sqlH31("(t[i] || ' ' || t[i+1])")} % 256))) AS f
       |  FROM tk),
       |tgt AS (SELECT f, COUNT(*) AS tcnt FROM feat
       |        WHERE source IN ('src0', 'src1') GROUP BY f),
       |raw AS (SELECT f, COUNT(*) AS rcnt FROM feat GROUP BY f),
       |nt AS (SELECT COALESCE(CAST(SUM(tcnt) AS BIGINT), 0) AS nt
       |       FROM tgt),
       |nr AS (SELECT CAST(SUM(rcnt) AS BIGINT) AS nr FROM raw),
       |ratio AS (
       |  SELECT raw.f,
       |    CAST((COALESCE(tcnt, 0) + 1) * (nr + 256) AS DOUBLE)
       |      / CAST((rcnt + 1) * (nt + 256) AS DOUBLE) AS term
       |  FROM raw LEFT JOIN tgt USING (f), nt, nr),
       |wts AS (
       |  SELECT doc_id, COUNT(*) AS n_feat,
       |    list_reduce(list_prepend(1.0, list_sort(list(term))),
       |      (a, b) -> a * b) AS weight
       |  FROM feat JOIN ratio USING (f)
       |  GROUP BY doc_id)""".stripMargin

  /** Crawl-refresh flagship — composes THIS round's operators end to
    * end: canonical-URL keep-first (frontier dedup) → cross-document
    * boilerplate strip over the surviving corpus → bigram-LM
    * median gate (model trained on the stripped corpus itself) →
    * exact-content dedup → survivor stats. Corpus in, refreshed corpus
    * out, one query; every stage is a keyed agg / broadcast-scalar
    * shape that survives crawl scale. */
  private def crawlRefreshDef: QueryDef =
    QueryDef("pipeline_crawl_refresh",
      """WITH u AS (
        |  SELECT doc_id, source, text,
        |    'HTTPS://'
        |    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |    || upper(source) || '.EXAMPLE'
        |    || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
        |    || '/p/' || CAST(doc_id % 8 AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0 THEN '/'
        |            WHEN doc_id % 3 = 1 THEN '?utm_source=feed&ref='
        |              || CAST(doc_id % 2 AS VARCHAR)
        |            ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, text,
        |    regexp_replace(regexp_replace(
        |        lower(regexp_extract(url, '^[^/?#]*://[^/?#]*', 0)),
        |        '://www\.', '://', 'g'), ':(?:80|443)$', '', 'g')
        |    || regexp_replace(
        |         regexp_replace(regexp_replace(
        |           regexp_replace(
        |             regexp_replace(
        |               substring(url, length(
        |                 regexp_extract(url, '^[^/?#]*://[^/?#]*', 0))
        |                 + 1),
        |               '#.*', '', 'g'),
        |             '(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
        |           '\?&', '?', 'g'), '[?&]+$', '', 'g'),
        |         '/+$', '', 'g') AS canonical
        |  FROM u),
        |k AS (SELECT canonical, MIN(doc_id) AS doc_id
        |      FROM c GROUP BY canonical),
        |s1 AS (
        |  SELECT c.doc_id, c.source, c.text, c.canonical
        |  FROM c JOIN k ON k.canonical = c.canonical
        |              AND k.doc_id = c.doc_id),
        |p AS (
        |  SELECT doc_id, canonical, concat_ws(chr(10),
        |    'NAV ' || source, text,
        |    'DOC ' || CAST(doc_id AS VARCHAR),
        |    'COPYRIGHT FOOTER 2026') AS full_text
        |  FROM s1),
        |nn AS (SELECT COUNT(*) AS n FROM p),
        |l AS (
        |  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos,
        |    unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(full_text, chr(10)) AS ls
        |        FROM p)),
        |fr AS (
        |  SELECT line, COUNT(*) AS dfr FROM (
        |    SELECT DISTINCT doc_id, line FROM l) GROUP BY line),
        |keepl AS (
        |  SELECT l.doc_id, l.pos, l.line
        |  FROM l JOIN fr ON fr.line = l.line, nn
        |  WHERE fr.dfr * 1000 <= 40 * nn.n),
        |cl AS (
        |  SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM keepl GROUP BY doc_id),
        |w AS (
        |  SELECT cl.doc_id, p.canonical, cl.clean_text
        |  FROM cl JOIN p USING (doc_id)),
        |t2 AS (SELECT doc_id, string_split(clean_text, ' ') AS tk FROM w),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
        |  FROM t2),
        |m AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
        |m2 AS (SELECT bigram, cnt, string_split(bigram, ' ')[1] AS w1
        |       FROM m),
        |pf AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS prefix_cnt
        |       FROM m2 GROUP BY w1),
        |mp AS (SELECT m2.bigram,
        |         CAST(floor(1000000.0 * cnt / prefix_cnt) AS BIGINT) AS p
        |       FROM m2 JOIN pf ON pf.w1 = m2.w1),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS nb, CAST(SUM(p) AS BIGINT) AS sm
        |  FROM bg JOIN mp ON mp.bigram = bg.bigram GROUP BY doc_id),
        |av AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(sm AS DOUBLE) / nb) AS BIGINT) AS lm_avg_int
        |  FROM sc),
        |g AS (
        |  SELECT w.doc_id, w.canonical, w.clean_text, av.lm_avg_int
        |  FROM w JOIN av USING (doc_id)
        |  WHERE av.lm_avg_int >= (SELECT quantile_cont(lm_avg_int, 0.5)
        |                          FROM av)),
        |sv AS (
        |  SELECT doc_id, canonical, clean_text, lm_avg_int FROM (
        |    SELECT g.*, ROW_NUMBER() OVER (
        |      PARTITION BY md5(clean_text) ORDER BY doc_id) AS rn
        |    FROM g)
        |  WHERE rn = 1)
        |SELECT doc_id, canonical,
        |  len(string_split(clean_text, ' '))::BIGINT AS n_tokens,
        |  lm_avg_int
        |FROM sv ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.ext.Dedup
      val docs = Tables.documents(s, d)
      val u = docs.select(col("doc_id"), col("source"), col("text"),
        concat(
          lit("HTTPS://"),
          when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
          upper(col("source")), lit(".EXAMPLE"),
          when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
          lit("/p/"), (col("doc_id") % 8).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/"))
            .when(col("doc_id") % 3 === 1,
              concat(lit("?utm_source=feed&ref="),
                (col("doc_id") % 2).cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit("")))
          .as("url"))
      val canon = u.withColumn("canonical",
        TextAnalysis.canonicalUrl(col("url"))).drop("url")
      val keepers = canon.groupBy("canonical")
        .agg(min("doc_id").as("doc_id"))
      val s1 = canon.join(keepers, Seq("canonical", "doc_id"))
      val planted = s1.select(col("doc_id"), col("canonical"),
        concat_ws("\n",
          concat(lit("NAV "), col("source")), col("text"),
          concat(lit("DOC "), col("doc_id").cast("string")),
          lit("COPYRIGHT FOOTER 2026")).as("full_text"))
      // four downstream branches (LM model, doc-side scoring, the
      // median gate, the dedup semi-join) all re-derive this chain —
      // persist the small survivor table instead of recomputing the
      // URL+strip shuffles per branch. Cache lifetime is caller-owned
      // (the returned frame is lazy and still reads the entry):
      // Bench/Verify clearCache() after each query's action.
      val stripped = TextAnalysis
        .stripBoilerplate(planted, "doc_id", "full_text")
        .join(planted.select("doc_id", "canonical"), Seq("doc_id"))
        .persist()
      // scored feeds the median aggregate AND the gate join; gated
      // feeds the exact-dedup pass AND the final projection — persist
      // both (one row per doc) or the LM-model pipeline runs twice and
      // the gate chain four times. Same caller-owned lifetime as above.
      val scored = TextAnalysis.lmScore(stripped, "doc_id", "clean_text",
          TextAnalysis.bigramModel(stripped, "clean_text"))
        .select(col("doc_id"),
          floor(col("lm_avg_micro")).cast("long").as("lm_avg_int"))
        .persist()
      val med = scored.agg(expr("percentile(lm_avg_int, 0.5)").as("med"))
      val gated = stripped.join(scored, Seq("doc_id"))
        .crossJoin(broadcast(med))
        .filter(col("lm_avg_int") >= col("med")).drop("med")
        .persist()
      val surv = gated.join(
        Dedup.keepFirstExact(gated, "doc_id", "clean_text")
          .select("doc_id"), Seq("doc_id"), "left_semi")
      surv.select(col("doc_id"), col("canonical"),
        TextAnalysis.nTokens(col("clean_text")).as("n_tokens"),
        col("lm_avg_int"))
        .orderBy("doc_id")
    }

  /** Deterministic PII planting: residue classes of doc_id get an email /
    * ssn-style id / phone / dotted-quad appended — mirrored
    * token-for-token by [[sqlPiiPlanted]]. */
  private def plantPii(docs: org.apache.spark.sql.DataFrame) = {
    val id = col("doc_id")
    docs.select(id, concat(
      col("text"),
      when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@corp.example"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" id 123-45-"),
        lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 7 === 0, concat(lit(" call +1 555-010-"),
        lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" from 10.2."),
        (id % 256).cast("string"), lit("."), (id % 100).cast("string")))
        .otherwise(lit(""))).as("full_text"))
  }

  /** DuckDB twin of [[plantPii]]. (A `def`, not a `val`: it is
    * referenced from the `defs` initializer above — a val here would be
    * a forward reference that interpolates as null.) */
  private def sqlPiiPlanted: String =
    """SELECT doc_id, text ||
      |  CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
      |    CAST(doc_id AS VARCHAR) || '@corp.example' ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0 THEN ' id 123-45-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |  CASE WHEN doc_id % 7 = 0 THEN ' call +1 555-010-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |  CASE WHEN doc_id % 11 = 0 THEN ' from 10.2.' ||
      |    CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |    CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS full_text
      |FROM documents""".stripMargin
}
