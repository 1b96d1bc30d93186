package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.TextAnalysis
import graft.ops.Materialize
import org.apache.spark.sql.functions._

/** Training-run data-ORDER and data-MIX planning — the two decisions
  * every large pretraining run makes between "corpus frozen" and
  * "first batch":
  *
  *  - `pipeline_epoch_shuffle`: the Megatron/tf.data epoch shuffle —
  *    per epoch, documents are visited in the order of a seeded hash
  *    (a deterministic pseudorandom permutation: reproducible across
  *    restarts and resumable mid-epoch WITHOUT materializing a
  *    permutation table). At 100 TB "sort by hash" is exactly one
  *    range exchange; the per-EPOCH positions come from the
  *    range-partitioned grouped ordinal, because `epoch` is a
  *    low-cardinality key — the same `row_number OVER (PARTITION BY
  *    epoch)` funnel this round eliminated for `source` windows.
  *  - `pipeline_mixture_schedule`: a static target-mix plan (the
  *    DoReMi/Pile-style reweighting surface): per-source natural
  *    token mass vs a uniform target share, a capped integral
  *    sampling rate, and the DETERMINISTIC per-document selection a
  *    fleet can evaluate map-only (hash-threshold, no RNG state) —
  *    with the realized post-selection mass graded next to the plan.
  *
  * Everything is exact integer arithmetic over the 31-bit md5 hash
  * ([[TextAnalysis.tokenHash31]]), so both queries replay in the
  * oracle bit-for-bit.
  */
object MixQueries {

  private def sqlH31(t: String): String = OracleSql.h31(t)

  /** Shared construction: the epoch-shuffled token stream packed into
    * fixed-2048-token micro-batches (the `pipeline_epoch_batches`
    * frame — grouped prefix sum, never an epoch-keyed window).
    * Returns (epoch, doc_id, h, n_tok, start_offset, bin). */
  private def epochBins(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.documents(s, d)
      .select(col("doc_id"),
        size(filter(split(coalesce(col("text"), lit("")), " "),
          w => length(w) > 0)).cast("long").as("n_tok"),
        explode(sequence(lit(0L), lit(2L))).as("epoch"))
      .withColumn("h", TextAnalysis.tokenHash31(concat(
        lit("ep"), col("epoch").cast("string"), lit("#"),
        col("doc_id").cast("string"))))
    graft.ops.PrefixSum.packIntoBins(e, weight = col("n_tok"),
      budget = 2048L, orderBy = Seq(col("h"), col("doc_id")),
      groupCols = Seq("epoch"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Three epochs, each a full deterministic permutation of the
    // corpus: position = rank of h31("ep<e>#<doc_id>") within the
    // epoch (ties broken by doc_id; the hash is effectively
    // collision-free at 31 bits but the order must be TOTAL by
    // construction, not by luck). Batch = position div 64 — the
    // epoch-order micro-batch id a resumable dataloader seeks to.
    // Engine side: NO epoch-keyed window (3-value key — the funnel);
    // grouped ordinals via the range partitioner over (epoch, h,
    // doc_id). The oracle's window replay is DuckDB's problem — the
    // oracle is not graded for scale.
    QueryDef("pipeline_epoch_shuffle",
      s"""WITH e AS (
        |  SELECT doc_id, unnest([0, 1, 2]) AS epoch FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
        |    ${sqlH31("'ep' || CAST(epoch AS VARCHAR) || '#' || " +
          "CAST(doc_id AS VARCHAR)")} AS h
        |  FROM e),
        |p AS (
        |  SELECT epoch, doc_id, h,
        |    CAST(row_number() OVER (PARTITION BY epoch
        |      ORDER BY h, doc_id) AS BIGINT) AS pos
        |  FROM h)
        |SELECT epoch, doc_id, h, pos,
        |  CAST((pos - 1) // 64 AS BIGINT) AS batch
        |FROM p ORDER BY epoch, pos""".stripMargin) { (s, d) =>
      val e = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(2L))).as("epoch"))
        .withColumn("h", TextAnalysis.tokenHash31(concat(
          lit("ep"), col("epoch").cast("string"), lit("#"),
          col("doc_id").cast("string"))))
      graft.ops.PrefixSum.withGroupedRunningTotal(e, "pos", Seq("epoch"),
          lit(1L), Seq(col("h"), col("doc_id")))
        .select(col("epoch"), col("doc_id"), col("h"), col("pos"),
          call_function("div", col("pos") - 1L, lit(64L)).as("batch"))
        .orderBy("epoch", "pos")
    },

    // Epoch-order TOKEN-BUDGET batches — the composition a trainer
    // actually consumes: within each epoch's shuffled order (same
    // seeded hash as pipeline_epoch_shuffle), documents fill
    // fixed-2048-token micro-batches by cumulative start offset.
    // `sum(n_tok) OVER (PARTITION BY epoch ORDER BY h)` is the oracle
    // spelling; the engine uses the grouped PREFIX SUM
    // (PrefixSum.packIntoBins with groupCols — one ordered scan over
    // (epoch, h, doc_id), then a 3-row per-epoch base aggregate
    // broadcast back) because epoch is a 3-value key and a window would
    // funnel ~corpus/3 rows into one task. Bins restart at 0 per
    // epoch; the batch boundary lands mid-document exactly where the
    // running total says — one token off anywhere shifts every later
    // bin and flips the hash.
    QueryDef("pipeline_epoch_batches",
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |      v -> length(v) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, n_tok, unnest([0, 1, 2]) AS epoch FROM t),
        |h AS (
        |  SELECT doc_id, n_tok, CAST(epoch AS BIGINT) AS epoch,
        |    ${sqlH31("'ep' || CAST(epoch AS VARCHAR) || '#' || " +
          "CAST(doc_id AS VARCHAR)")} AS h
        |  FROM e),
        |r AS (
        |  SELECT epoch, doc_id, h, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY epoch
        |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tok AS BIGINT) AS start_offset
        |  FROM h)
        |SELECT epoch, doc_id, h, n_tok, start_offset,
        |  CAST(start_offset // 2048 AS BIGINT) AS bin
        |FROM r ORDER BY epoch, start_offset, doc_id""".stripMargin) {
      (s, d) =>
      epochBins(s, d)
        .select(col("epoch"), col("doc_id"), col("h"), col("n_tok"),
          col("start_offset"), col("bin").cast("long").as("bin"))
        .orderBy("epoch", "start_offset", "doc_id")
    },

    // Rendezvous (highest-random-weight) worker assignment — the
    // elastic re-sharding step a serving/streaming fleet needs:
    // document d goes to argmax_w h31("<d>#w<w>"). Graded side by
    // side at 8 and 9 workers: HRW's defining property is that
    // scaling 8→9 moves ONLY documents whose new argmax IS the new
    // worker (an expected 1/9 of the corpus; nothing shuffles between
    // surviving workers — consistent-hashing's whole point, and the
    // `moved` column makes a violation a hash mismatch, not a
    // footnote). Engine: per-doc argmax over a 9-element struct
    // array (map-only, codegen'd); the oracle replays via per-(doc,
    // worker) ranks. At 100 TB: one narrow map over the manifest —
    // assignment is stateless, so any executor recomputes it.
    QueryDef("pipeline_worker_assign",
      s"""WITH c AS (
        |  SELECT doc_id, unnest(range(0, 9)) AS w FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(w AS BIGINT) AS w,
        |    ${sqlH31("CAST(doc_id AS VARCHAR) || '#w' || " +
          "CAST(w AS VARCHAR)")} AS hw
        |  FROM c),
        |r8 AS (
        |  SELECT doc_id, w AS worker8 FROM (
        |    SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY hw DESC, w) AS rn
        |    FROM h WHERE w < 8) WHERE rn = 1),
        |r9 AS (
        |  SELECT doc_id, w AS worker9 FROM (
        |    SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY hw DESC, w) AS rn
        |    FROM h) WHERE rn = 1)
        |SELECT d.doc_id, r8.worker8, r9.worker9,
        |  r8.worker8 <> r9.worker9 AS moved
        |FROM documents d
        |JOIN r8 ON r8.doc_id = d.doc_id
        |JOIN r9 ON r9.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      def pick(n: Int) =
        array_max(transform(sequence(lit(0), lit(n - 1)),
          w => struct(
            TextAnalysis.tokenHash31(concat(
              col("doc_id").cast("string"), lit("#w"),
              w.cast("string"))).as("h"),
            // argmax by (h, w): ties (h collisions) break to the
            // LARGER w under struct max — matching the oracle's
            // `ORDER BY hw DESC, w ... rn = 1`? No: that picks the
            // SMALLER w on ties. Negate w so both sides agree on
            // smaller-w-wins, then flip back.
            (-w).as("nw"))))
      Tables.documents(s, d)
        .select(col("doc_id"),
          (-pick(8).getField("nw")).cast("long").as("worker8"),
          (-pick(9).getField("nw")).cast("long").as("worker9"))
        .withColumn("moved", col("worker8") =!= col("worker9"))
        .orderBy("doc_id")
    },

    // Static mix plan: per source, natural whitespace-token mass;
    // target = uniform share (total div n_sources); rate_permil =
    // min(1000, 1000·target div natural) — DOWN-sampling only
    // (up-weighting is epoch repetition's job, so the plan never
    // fabricates mass); selection: keep doc iff
    // h31("mix#<doc_id>") mod 1000 < rate_permil — map-only,
    // stateless, fleet-evaluable. The realized kept mass rides along:
    // the plan AND its execution grade together, so a drifted hash,
    // a wrong cap, or a biased threshold flips the row.
    QueryDef("pipeline_mixture_schedule",
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |      v -> length(v) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |nat AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS natural_tokens
        |  FROM t GROUP BY source),
        |tot AS (
        |  SELECT CAST(SUM(natural_tokens) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM nat),
        |plan AS (
        |  SELECT n.source, n.n_docs, n.natural_tokens,
        |    CAST(tot.total // tot.n_src AS BIGINT) AS target_tokens,
        |    CAST(least(1000, 1000 * (tot.total // tot.n_src)
        |      // n.natural_tokens) AS BIGINT) AS rate_permil
        |  FROM nat n, tot),
        |sel AS (
        |  SELECT t.source,
        |    CAST(COUNT(*) FILTER (
        |      ${sqlH31("'mix#' || CAST(doc_id AS VARCHAR)")} % 1000
        |        < p.rate_permil) AS BIGINT) AS kept_docs,
        |    CAST(COALESCE(SUM(n_tok) FILTER (
        |      ${sqlH31("'mix#' || CAST(doc_id AS VARCHAR)")} % 1000
        |        < p.rate_permil), 0) AS BIGINT) AS kept_tokens
        |  FROM t JOIN plan p ON p.source = t.source
        |  GROUP BY t.source)
        |SELECT p.source, p.n_docs, p.natural_tokens, p.target_tokens,
        |  p.rate_permil, s.kept_docs, s.kept_tokens
        |FROM plan p JOIN sel s ON s.source = p.source
        |ORDER BY p.source""".stripMargin) { (s, d) =>
      val t = Materialize(Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(filter(split(coalesce(col("text"), lit("")), " "),
            w => length(w) > 0)).cast("long").as("n_tok")),
        // two keyed aggs + the selection read it — one scan
        eager = false)
      val nat = t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("natural_tokens"))
      // the totals frame is ONE row; cross-joining it broadcasts
      val tot = nat.agg(sum(col("natural_tokens")).as("total"),
        count(lit(1)).as("n_src"))
      val plan = nat.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("natural_tokens"),
          call_function("div", col("total"), col("n_src"))
            .as("target_tokens"))
        .withColumn("rate_permil",
          least(lit(1000L), call_function("div",
            lit(1000L) * col("target_tokens"),
            col("natural_tokens"))))
      val keep = TextAnalysis.tokenHash31(concat(lit("mix#"),
        col("doc_id").cast("string"))) % 1000L < col("rate_permil")
      val sel = t.join(broadcast(plan.select("source", "rate_permil")),
          Seq("source"))
        .groupBy("source")
        .agg(count(when(keep, lit(1))).as("kept_docs"),
          coalesce(sum(when(keep, col("n_tok"))), lit(0L))
            .as("kept_tokens"))
      plan.join(sel, Seq("source"))
        .select(col("source"), col("n_docs"), col("natural_tokens"),
          col("target_tokens"), col("rate_permil"), col("kept_docs"),
          col("kept_tokens"))
        .orderBy("source")
    },

    // Curriculum ANNEAL — the mixture schedule unrolled over epochs:
    // epoch 0 trains the natural distribution (rate 1000 everywhere),
    // epoch 2 trains the target mix (pipeline_mixture_schedule's
    // capped rate), epoch 1 the exact integral midpoint —
    // rate(e) = (1000·(2−e) + target_rate·e) div 2, the linear
    // anneal a curriculum run walks from "see everything" to "the
    // mix you want at convergence". Selection re-seeds PER EPOCH
    // (h31("mix#<e>#<doc>")), so the downsampled subset rotates
    // across epochs instead of starving the same documents — and the
    // realized per-(epoch, source) mass grades next to the plan.
    // Same scale shape as the schedule: one scan, two keyed aggs, a
    // broadcast |epochs|·|sources| plan, map-only selection.
    QueryDef("pipeline_mixture_anneal",
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |      v -> length(v) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |nat AS (
        |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS natural_tokens
        |  FROM t GROUP BY source),
        |tot AS (
        |  SELECT CAST(SUM(natural_tokens) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM nat),
        |tgt AS (
        |  SELECT n.source,
        |    CAST(least(1000, 1000 * (tot.total // tot.n_src)
        |      // n.natural_tokens) AS BIGINT) AS target_rate
        |  FROM nat n, tot),
        |plan AS (
        |  SELECT CAST(e AS BIGINT) AS epoch, g.source,
        |    CAST((1000 * (2 - e) + g.target_rate * e) // 2 AS BIGINT)
        |      AS rate_permil
        |  FROM tgt g, (SELECT unnest([0, 1, 2]) AS e)),
        |sel AS (
        |  SELECT p.epoch, t.source,
        |    CAST(COUNT(*) FILTER (
        |      ${sqlH31("'mix#' || CAST(p.epoch AS VARCHAR) || '#' || " +
          "CAST(doc_id AS VARCHAR)")} % 1000
        |        < p.rate_permil) AS BIGINT) AS kept_docs,
        |    CAST(COALESCE(SUM(n_tok) FILTER (
        |      ${sqlH31("'mix#' || CAST(p.epoch AS VARCHAR) || '#' || " +
          "CAST(doc_id AS VARCHAR)")} % 1000
        |        < p.rate_permil), 0) AS BIGINT) AS kept_tokens
        |  FROM t JOIN plan p ON p.source = t.source
        |  GROUP BY p.epoch, t.source)
        |SELECT p.epoch, p.source, p.rate_permil, s.kept_docs,
        |  s.kept_tokens
        |FROM plan p JOIN sel s
        |  ON s.epoch = p.epoch AND s.source = p.source
        |ORDER BY p.epoch, p.source""".stripMargin) { (s, d) =>
      val t = Materialize(Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(filter(split(coalesce(col("text"), lit("")), " "),
            w => length(w) > 0)).cast("long").as("n_tok")),
        eager = false)
      val nat = t.groupBy("source")
        .agg(sum(col("n_tok")).as("natural_tokens"))
      val tot = nat.agg(sum(col("natural_tokens")).as("total"),
        count(lit(1)).as("n_src"))
      val tgt = nat.crossJoin(broadcast(tot))
        .select(col("source"),
          least(lit(1000L), call_function("div",
            lit(1000L) * call_function("div", col("total"),
              col("n_src")),
            col("natural_tokens"))).as("target_rate"))
      val plan = tgt
        .select(col("source"), col("target_rate"),
          explode(sequence(lit(0L), lit(2L))).as("epoch"))
        .withColumn("rate_permil", call_function("div",
          lit(1000L) * (lit(2L) - col("epoch")) +
            col("target_rate") * col("epoch"), lit(2L)))
        .select("epoch", "source", "rate_permil")
      val keep = TextAnalysis.tokenHash31(concat(lit("mix#"),
        col("epoch").cast("string"), lit("#"),
        col("doc_id").cast("string"))) % 1000L < col("rate_permil")
      val sel = t.join(broadcast(plan), Seq("source"))
        .groupBy("epoch", "source")
        .agg(count(when(keep, lit(1))).as("kept_docs"),
          coalesce(sum(when(keep, col("n_tok"))), lit(0L))
            .as("kept_tokens"))
      plan.join(sel, Seq("epoch", "source"))
        .select(col("epoch"), col("source"), col("rate_permil"),
          col("kept_docs"), col("kept_tokens"))
        .orderBy("epoch", "source")
    },

    // DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    // Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    // Group-DRO multiplicative weights over MEASURED per-domain excess
    // loss. The reference model is the corpus bigram LM trained on the
    // natural mixture (exactly DoReMi's reference; the text_lm_score
    // machinery, integer micro units — transcendental-free so the
    // oracle replays bit-for-bit). A domain's loss proxy is its average
    // per-bigram likelihood mass; its EXCESS is how far BELOW the
    // corpus average that sits (hard domains have positive excess).
    // Four multiplicative-weights rounds then upweight hard domains —
    // u = w·(1000 + 1000·eff div max_excess), renormalized to permil;
    // normalizing by the max observed excess is DoReMi's own move
    // (losses are clipped/normalized to [0,1] before the exponent), and
    // it makes the dynamics scale-free: the hardest domain takes the
    // full 2× bump per round whether the corpus' domains differ by 50%
    // or 0.05%. `eff` applies a linear EXPOSURE RESPONSE (excess paid
    // down proportionally to current weight, fully at 500 permil): the
    // deterministic stand-in for the per-round proxy-trainer losses
    // the production loop would measure, and what gives the iteration
    // an interior fixed point instead of MW's all-weight-on-hardest
    // degenerate limit. Scale shape: the corpus pays ONE lmScore pass
    // (generator explode + broadcastable model join + one keyed agg);
    // the trajectory is exact integer arithmetic over |sources| rows
    // of driver state (guarded ≤ 256 — the bounded-driver-state
    // carve-out, same as the grouped ordinal's offset fold), and the
    // learned weights broadcast to any downstream selection.
    QueryDef("pipeline_domain_reweight", {
      val rounds = (1 to 4).map { t =>
        s"""e$t AS (
           |  SELECT source, excess_micro,
           |    CAST(excess_micro * greatest(0, 1000 - 2 * w) // 1000
           |      AS BIGINT) AS eff, w
           |  FROM r${t - 1}),
           |u$t AS (
           |  SELECT source, excess_micro, eff,
           |    CAST(w * (1000 + 1000 * eff // greatest(1,
           |      (SELECT max(excess_micro) FROM ex))) AS BIGINT) AS u
           |  FROM e$t),
           |r$t AS (
           |  SELECT source, excess_micro, eff,
           |    CAST(1000 * u // greatest(1, (SELECT SUM(u) FROM u$t))
           |      AS BIGINT) AS w
           |  FROM u$t)""".stripMargin
      }.mkString(",\n")
      val emits = (1 to 4).map { t =>
        s"""SELECT CAST($t AS BIGINT) AS mw_round, source, excess_micro,
           |  eff AS eff_excess_micro, w AS weight_permil FROM r$t"""
          .stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk
        |           FROM documents),
        |bg AS (
        |  SELECT doc_id, source, unnest(list_transform(range(1, len(tk)),
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
        |ds AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bg,
        |    CAST(SUM(p) AS BIGINT) AS sum_micro
        |  FROM bg JOIN mp ON mp.bigram = bg.bigram GROUP BY source),
        |tot AS (
        |  SELECT CAST(SUM(sum_micro) // greatest(1, SUM(n_bg))
        |      AS BIGINT) AS avg_all,
        |    CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM ds),
        |ex AS (
        |  SELECT source, CAST(greatest(0,
        |      tot.avg_all - sum_micro // greatest(1, n_bg))
        |      AS BIGINT) AS excess_micro
        |  FROM ds, tot),
        |r0 AS (
        |  SELECT source, excess_micro,
        |    CAST(1000 // tot.n_src AS BIGINT) AS w
        |  FROM ex, tot),
        |$rounds
        |SELECT CAST(0 AS BIGINT) AS mw_round, source, excess_micro,
        |  CAST(0 AS BIGINT) AS eff_excess_micro, w AS weight_permil
        |FROM r0
        |UNION ALL $emits
        |ORDER BY mw_round, source""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = TextAnalysis.bigramModel(docs, "text")
      val scored = TextAnalysis.lmScore(docs, "doc_id", "text", model)
      val bySrc = docs.select("doc_id", "source")
        .join(scored, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("__docs"),
          sum("n_bigrams").cast("long").as("n_bg"),
          sum("lm_sum_micro").cast("long").as("sum_micro"))
        .select("source", "n_bg", "sum_micro")
      val st = bySrc.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      require(st.nonEmpty, "domain_reweight: no scoreable documents")
      require(st.length <= 256, s"domain_reweight: ${st.length} " +
        "sources — the driver-side trajectory is bounded at 256")
      val avgAll = st.map(_._3).sum / math.max(1L, st.map(_._2).sum)
      val excess = st.map { case (src, nBg, sm) =>
        src -> math.max(0L, avgAll - sm / math.max(1L, nBg))
      }.toMap
      val srcs = st.map(_._1)
      val maxEx = math.max(1L, excess.values.max)
      var w = srcs.map(_ -> 1000L / srcs.length).toMap
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, Long, Long, Long)]
      srcs.foreach(x => out += ((0L, x, excess(x), 0L, w(x))))
      for (t <- 1 to 4) {
        val eff = srcs.map(x =>
          x -> excess(x) * math.max(0L, 1000L - 2L * w(x)) / 1000L).toMap
        val u = srcs.map(x =>
          x -> w(x) * (1000L + 1000L * eff(x) / maxEx)).toMap
        val su = math.max(1L, u.values.sum)
        w = srcs.map(x => x -> 1000L * u(x) / su).toMap
        srcs.foreach(x => out += ((t.toLong, x, excess(x), eff(x), w(x))))
      }
      import s.implicits._
      out.toSeq.toDF("mw_round", "source", "excess_micro",
          "eff_excess_micro", "weight_permil")
        .orderBy("mw_round", "source")
    },

    // CONTEXT-PARALLEL shard plan (ring attention, Liu et al. 2023;
    // Megatron context parallelism): when one training sequence is too
    // long for one device, its context window splits across P ranks —
    // rank r owns tokens [r·512, (r+1)·512) of each 2048-token chunk
    // of the concatenated corpus stream, and additionally stages the
    // H=64 tokens to its LEFT (the neighbor's tail — the KV block a
    // causal boundary needs resident before the ring pass). The plan
    // a dataloader executes is exactly this query's output: per
    // (chunk, rank), which documents the rank must fetch for its core
    // slice (count, first, last, token fill by overlap arithmetic)
    // and which for its halo (count, fill). Tail-chunk ranks past the
    // corpus' final token are not emitted — a rank with no core
    // tokens has no work. Same grading DNA as pipeline_bpe_chunks:
    // one boundary off-by-one anywhere flips a fill sum. Cost: the
    // token-count map pass, the prefix-sum range partition, a bounded
    // explode (≤ P core + P halo rows per document-chunk piece) and
    // one (chunk, rank)-keyed agg.
    QueryDef("pipeline_context_shards",
      """WITH tc AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |      v -> length(v) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |rr AS (
        |  SELECT doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS s,
        |    CAST(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
        |  FROM tc WHERE n_tok > 0),
        |pc AS (
        |  SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
        |    greatest(s, c * 2048) - c * 2048 AS ls,
        |    least(e, (c + 1) * 2048) - c * 2048 AS le
        |  FROM (SELECT doc_id, s, e,
        |      unnest(range(s // 2048, (e - 1) // 2048 + 1)) AS c
        |    FROM rr)),
        |core AS (
        |  SELECT doc_id, chunk_id, CAST(r AS BIGINT) AS rank,
        |    least(le, (r + 1) * 512) - greatest(ls, r * 512) AS ov
        |  FROM (SELECT doc_id, chunk_id, ls, le,
        |      unnest(range(ls // 512, (le - 1) // 512 + 1)) AS r
        |    FROM pc)),
        |halo AS (
        |  SELECT doc_id, chunk_id, CAST(r AS BIGINT) AS rank,
        |    least(le, r * 512) - greatest(ls, r * 512 - 64) AS ov
        |  FROM (SELECT doc_id, chunk_id, ls, le,
        |      unnest(range(greatest(1, ls // 512 + 1),
        |        least(3, (le + 63) // 512) + 1)) AS r
        |    FROM pc)
        |  WHERE r * 512 > ls AND r * 512 - 64 < le),
        |ca AS (
        |  SELECT chunk_id, rank, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |    CAST(SUM(ov) AS BIGINT) AS fill
        |  FROM core GROUP BY chunk_id, rank),
        |ha AS (
        |  SELECT chunk_id, rank, CAST(COUNT(*) AS BIGINT) AS halo_docs,
        |    CAST(SUM(ov) AS BIGINT) AS halo_fill
        |  FROM halo GROUP BY chunk_id, rank)
        |SELECT ca.chunk_id, ca.rank, ca.n_docs, ca.first_doc,
        |  ca.last_doc, ca.fill,
        |  CAST(COALESCE(ha.halo_docs, 0) AS BIGINT) AS halo_docs,
        |  CAST(COALESCE(ha.halo_fill, 0) AS BIGINT) AS halo_fill
        |FROM ca LEFT JOIN ha
        |  ON ha.chunk_id = ca.chunk_id AND ha.rank = ca.rank
        |ORDER BY ca.chunk_id, ca.rank""".stripMargin) { (s, d) =>
      val ctx = 2048L; val rw = 512L; val hb = 64L
      val counts = Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(split(coalesce(col("text"), lit("")), " "),
            w => length(w) > 0)).cast("long").as("n_tok"))
      val pieces = Materialize(graft.ops.PrefixSum.packIntoBins(counts,
          weight = col("n_tok"), budget = ctx,
          orderBy = Seq(col("doc_id")))
        .filter(col("n_tok") > 0L)
        .select(col("doc_id"), col("start_offset").as("s"),
          (col("start_offset") + col("n_tok")).as("e"))
        .select(col("doc_id"), col("s"), col("e"),
          explode(sequence(expr(s"s div $ctx"),
            expr(s"(e - 1) div $ctx"))).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (greatest(col("s"), col("chunk_id") * ctx) -
            col("chunk_id") * ctx).as("ls"),
          (least(col("e"), (col("chunk_id") + 1L) * ctx) -
            col("chunk_id") * ctx).as("le")),
        // the core and halo explodes both read it — one scan
        eager = false)
      val core = pieces
        .select(col("doc_id"), col("chunk_id"), col("ls"), col("le"),
          explode(sequence(expr(s"ls div $rw"),
            expr(s"(le - 1) div $rw"))).as("rank"))
        .groupBy("chunk_id", "rank")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"),
          sum(least(col("le"), (col("rank") + 1L) * rw) -
            greatest(col("ls"), col("rank") * rw))
            .cast("long").as("fill"))
      val halo = pieces
        .select(col("doc_id"), col("chunk_id"), col("ls"), col("le"),
          explode(sequence(
            greatest(lit(1L), expr(s"ls div $rw") + 1L),
            least(lit(ctx / rw - 1L), expr(s"(le + ${hb - 1}) div $rw"))
          )).as("rank"))
        .filter(col("rank") * rw > col("ls") &&
          col("rank") * rw - hb < col("le"))
        .groupBy("chunk_id", "rank")
        .agg(count(lit(1)).as("halo_docs"),
          sum(least(col("le"), col("rank") * rw) -
            greatest(col("ls"), col("rank") * rw - hb))
            .cast("long").as("halo_fill"))
      core.join(halo, Seq("chunk_id", "rank"), "left")
        .select(col("chunk_id"), col("rank"), col("n_docs"),
          col("first_doc"), col("last_doc"), col("fill"),
          coalesce(col("halo_docs"), lit(0L)).cast("long")
            .as("halo_docs"),
          coalesce(col("halo_fill"), lit(0L)).cast("long")
            .as("halo_fill"))
        .orderBy("chunk_id", "rank")
    },

    // OPTIMIZER-STEP plan — the LAST hop from corpus to gradient: the
    // epoch-shuffled 2048-token micro-batches (the
    // pipeline_epoch_batches frame, shared construction) assigned to
    // (step, data-parallel worker, accumulation slot) under W=4 DP
    // ranks × A=2 gradient-accumulation passes. The assignment is the
    // Megatron dataloader's STRIDE: global batch g = bin div 8, rank
    // w = bin mod 4 — each rank reads every 4th micro-batch, so a
    // rank's read set is contiguous-in-stride and resumable from a
    // (step, accum) cursor with pure arithmetic, no manifest. Graded
    // per (epoch, step, worker): micro-batch count (2 except the tail
    // step), document count, token mass (the DP load-balance signal a
    // straggler diagnosis reads), and first/last bin pinning the
    // stride layout itself. Cost: the epoch-batches construction plus
    // two keyed aggs; nothing new shuffles at corpus scale.
    QueryDef("pipeline_train_steps",
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |      v -> length(v) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, n_tok, unnest([0, 1, 2]) AS epoch FROM t),
        |h AS (
        |  SELECT doc_id, n_tok, CAST(epoch AS BIGINT) AS epoch,
        |    ${sqlH31("'ep' || CAST(epoch AS VARCHAR) || '#' || " +
          "CAST(doc_id AS VARCHAR)")} AS h
        |  FROM e),
        |r AS (
        |  SELECT epoch, doc_id, h, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY epoch
        |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tok AS BIGINT) AS start_offset
        |  FROM h),
        |bb AS (
        |  SELECT epoch, n_tok,
        |    CAST(start_offset // 2048 AS BIGINT) AS bin
        |  FROM r),
        |ba AS (
        |  SELECT epoch, bin, CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(n_tok) AS BIGINT) AS tk
        |  FROM bb GROUP BY epoch, bin)
        |SELECT epoch, CAST(bin // 8 AS BIGINT) AS step,
        |  CAST(bin % 4 AS BIGINT) AS worker,
        |  CAST(COUNT(*) AS BIGINT) AS n_micro,
        |  CAST(SUM(nd) AS BIGINT) AS n_docs,
        |  CAST(SUM(tk) AS BIGINT) AS tokens,
        |  CAST(min(bin) AS BIGINT) AS first_bin,
        |  CAST(max(bin) AS BIGINT) AS last_bin
        |FROM ba GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
      (s, d) =>
      epochBins(s, d)
        .groupBy(col("epoch"), col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("tk"))
        .groupBy(col("epoch"),
          call_function("div", col("bin"), lit(8L)).as("step"),
          (col("bin") % 4L).as("worker"))
        .agg(count(lit(1)).as("n_micro"),
          sum(col("nd")).cast("long").as("n_docs"),
          sum(col("tk")).cast("long").as("tokens"),
          min("bin").as("first_bin"),
          max("bin").as("last_bin"))
        .orderBy("epoch", "step", "worker")
    },

    // DATALOADER-PLAN FLAGSHIP — the round's planning layer composed
    // into ONE lineage, the way a run actually consumes it: the
    // mixture schedule's stateless hash-threshold selection decides
    // WHICH documents train; the seeded epoch shuffle decides their
    // ORDER; the grouped token prefix sum packs them into 2048-token
    // micro-batches; the stride maps micro-batches onto (step, DP
    // worker). Every stage is the corresponding graded query's exact
    // construction — selection from pipeline_mixture_schedule (same
    // seed, same capped integral rates), order and bins the
    // pipeline_epoch_batches way over the SELECTED subset, the
    // assignment pipeline_train_steps' arithmetic — so the flagship
    // is differential-by-construction against its stage queries, and
    // one drifted rate, hash seed, offset or stride anywhere flips a
    // hash here. Scale shape: two keyed aggs + a broadcast plan
    // (selection), one range exchange + driver folds per enumeration
    // (grouped ordinal/prefix sum), two keyed aggs (steps) — no new
    // shuffle class, no corpus-scale window.
    QueryDef("pipeline_loader_plan",
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
        |      v -> length(v) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |nat AS (
        |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS natural_tokens
        |  FROM t GROUP BY source),
        |tot AS (
        |  SELECT CAST(SUM(natural_tokens) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM nat),
        |plan AS (
        |  SELECT n.source,
        |    CAST(least(1000, 1000 * (tot.total // tot.n_src)
        |      // n.natural_tokens) AS BIGINT) AS rate_permil
        |  FROM nat n, tot),
        |sel AS (
        |  SELECT t.doc_id, t.source, t.n_tok
        |  FROM t JOIN plan p ON p.source = t.source
        |  WHERE ${sqlH31("'mix#' || CAST(doc_id AS VARCHAR)")} % 1000
        |    < p.rate_permil),
        |e AS (
        |  SELECT doc_id, n_tok, unnest([0, 1, 2]) AS epoch FROM sel),
        |h AS (
        |  SELECT doc_id, n_tok, CAST(epoch AS BIGINT) AS epoch,
        |    ${sqlH31("'ep' || CAST(epoch AS VARCHAR) || '#' || " +
          "CAST(doc_id AS VARCHAR)")} AS h
        |  FROM e),
        |r AS (
        |  SELECT epoch, doc_id, h, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY epoch
        |      ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tok AS BIGINT) AS start_offset
        |  FROM h),
        |bb AS (
        |  SELECT epoch, n_tok,
        |    CAST(start_offset // 2048 AS BIGINT) AS bin
        |  FROM r),
        |ba AS (
        |  SELECT epoch, bin, CAST(COUNT(*) AS BIGINT) AS nd,
        |    CAST(SUM(n_tok) AS BIGINT) AS tk
        |  FROM bb GROUP BY epoch, bin)
        |SELECT epoch, CAST(bin // 8 AS BIGINT) AS step,
        |  CAST(bin % 4 AS BIGINT) AS worker,
        |  CAST(COUNT(*) AS BIGINT) AS n_micro,
        |  CAST(SUM(nd) AS BIGINT) AS n_docs,
        |  CAST(SUM(tk) AS BIGINT) AS tokens,
        |  CAST(min(bin) AS BIGINT) AS first_bin,
        |  CAST(max(bin) AS BIGINT) AS last_bin
        |FROM ba GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
      (s, d) =>
      val t = Materialize(Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(filter(split(coalesce(col("text"), lit("")), " "),
            w => length(w) > 0)).cast("long").as("n_tok")),
        eager = false)
      val nat = t.groupBy("source")
        .agg(sum(col("n_tok")).as("natural_tokens"))
      val tot = nat.agg(sum(col("natural_tokens")).as("total"),
        count(lit(1)).as("n_src"))
      val plan = nat.crossJoin(broadcast(tot))
        .select(col("source"),
          least(lit(1000L), call_function("div",
            lit(1000L) * call_function("div", col("total"),
              col("n_src")),
            col("natural_tokens"))).as("rate_permil"))
      val sel = t.join(broadcast(plan), Seq("source"))
        .filter(TextAnalysis.tokenHash31(concat(lit("mix#"),
          col("doc_id").cast("string"))) % 1000L < col("rate_permil"))
        .select("doc_id", "n_tok")
      val e = sel
        .select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0L), lit(2L))).as("epoch"))
        .withColumn("h", TextAnalysis.tokenHash31(concat(
          lit("ep"), col("epoch").cast("string"), lit("#"),
          col("doc_id").cast("string"))))
      graft.ops.PrefixSum.packIntoBins(e, weight = col("n_tok"),
          budget = 2048L, orderBy = Seq(col("h"), col("doc_id")),
          groupCols = Seq("epoch"))
        .groupBy(col("epoch"), col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("tk"))
        .groupBy(col("epoch"),
          call_function("div", col("bin"), lit(8L)).as("step"),
          (col("bin") % 4L).as("worker"))
        .agg(count(lit(1)).as("n_micro"),
          sum(col("nd")).cast("long").as("n_docs"),
          sum(col("tk")).cast("long").as("tokens"),
          min("bin").as("first_bin"),
          max("bin").as("last_bin"))
        .orderBy("epoch", "step", "worker")
    })
}
