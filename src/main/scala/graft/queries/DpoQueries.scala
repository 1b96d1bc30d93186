package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.{Bpe, Sft}
import graft.ops.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DPO shard assembly — the preference-tuning sibling of
  * `pipeline_sft_shards`, completing the trainer-shard family
  * (pretrain packing → SFT → VLM → DPO): `train_dpo_pairs`' preference
  * pairs (bigram-LM verdicts, per-source adjacent pairing via the
  * funnel-free grouped ordinal — [[TextQueries.dpoPairsOf]]) rendered
  * into the PAIRED id streams a DPO trainer consumes — one shared
  * prompt turn and two response branches per pair, each through the
  * chat template with loss masks (1 = response content + closing EOS;
  * the shared prompt is context in BOTH branches, never trained), ids
  * under the text-only reserved vocabulary ([[Bpe.SftSpecials]]).
  * DPO batches are PAIR-ALIGNED (chosen and rejected must ride
  * together for the sigmoid of log-ratio differences), so the shard
  * row is the pair — there is no cross-pair packing stage; length
  * bucketing for batch shape is `pipeline_length_batches`' job.
  *
  * The oracle replays everything: the bigram-LM pairing (verdict and
  * margin), the tokenizer train chain, the prompt/response encodes,
  * both rendered streams and every graded sum — a flipped verdict, a
  * mask bit on the prompt, or one id off in either branch flips the
  * hash.
  */
object DpoQueries {

  import BpeQueries.{K, sqlByteMapCtes, sqlEncodeChain, sqlPretokBytes,
    sqlTrainCtes}
  import SftQueries.sqlWords

  /** Learned-id offset (text-only specials, like the SFT shards). */
  private val S = Bpe.SftSpecials.size

  /** First `n` whitespace words of a text column, joined — the
    * bounded response surface (whole documents would dominate the
    * graded row with no extra coverage). */
  private def firstWords(c: Column, n: Int): Column =
    array_join(slice(filter(split(coalesce(c, lit("")), " "),
      w => length(w) > 0), 1, n), " ")

  private def sqlFirstWords(c: String, n: Int): String =
    s"coalesce(array_to_string(list_filter(string_split(" +
      s"coalesce($c, ''), ' '), v -> length(v) > 0)[1:$n], ' '), '')"

  /** Shared verbatim by `pipeline_dpo_shards` and its freeze-store
    * export (`export_dpo_shards`) — one SQL string, one grade. */
  private[queries] def sqlDpoShards: String =
    "WITH " + sqlByteMapCtes + ",\n" +
        sqlTrainCtes(K, ", bl WHERE source = 'src0'",
          wordExpr = sqlPretokBytes) + s""",
vocab AS MATERIALIZED (
  SELECT l[i + 1] AS token, CAST(i + $S AS BIGINT) AS id
  FROM bl, (SELECT unnest(range(0, 256)) AS i)
  UNION ALL
  SELECT token, id FROM (
    SELECT token, ${S + 255} + mr AS id,
      ROW_NUMBER() OVER (PARTITION BY token ORDER BY mr) AS rn
    FROM (${(1 to K).map(i =>
        s"SELECT $i AS mr, a || b AS token FROM m$i")
        .mkString(" UNION ALL ")}))
  WHERE rn = 1),
t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
    i -> tk[i] || ' ' || tk[i+1])) AS bigram
  FROM t),
bm AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
bm2 AS (SELECT bigram, cnt, string_split(bigram, ' ')[1] AS w1
        FROM bm),
bpf AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS prefix_cnt
        FROM bm2 GROUP BY w1),
bmp AS (SELECT bm2.bigram,
          CAST(floor(1000000.0 * cnt / prefix_cnt) AS BIGINT) AS p
        FROM bm2 JOIN bpf ON bpf.w1 = bm2.w1),
sc AS (
  SELECT doc_id, CAST(SUM(p) AS BIGINT) // COUNT(*) AS avg_mi
  FROM bg JOIN bmp ON bmp.bigram = bg.bigram
  GROUP BY doc_id),
pr AS (
  SELECT d.doc_id, d.source, sc.avg_mi,
    row_number() OVER (PARTITION BY d.source
      ORDER BY d.doc_id) AS rn,
    lead(d.doc_id) OVER (PARTITION BY d.source
      ORDER BY d.doc_id) AS partner_id,
    lead(sc.avg_mi) OVER (PARTITION BY d.source
      ORDER BY d.doc_id) AS partner_mi
  FROM documents d JOIN sc ON sc.doc_id = d.doc_id),
pairs AS MATERIALIZED (
  SELECT source,
    CASE WHEN partner_mi > avg_mi THEN partner_id
      ELSE doc_id END AS chosen_id,
    CASE WHEN partner_mi > avg_mi THEN doc_id
      ELSE partner_id END AS rejected_id,
    abs(avg_mi - partner_mi) AS margin
  FROM pr WHERE rn % 2 = 1 AND partner_id IS NOT NULL),
u AS (
  SELECT chosen_id AS pid, 0 AS which,
    source || ' q' || CAST(chosen_id + rejected_id AS VARCHAR)
      AS content
  FROM pairs
  UNION ALL
  SELECT p.chosen_id, 1, ${sqlFirstWords("d.text", 8)}
  FROM pairs p JOIN documents d ON d.doc_id = p.chosen_id
  UNION ALL
  SELECT p.chosen_id, 2, ${sqlFirstWords("d.text", 8)}
  FROM pairs p JOIN documents d ON d.doc_id = p.rejected_id),
uenc AS (
  SELECT pid, which,
    flatten(list_transform(${sqlWords("content")},
      w -> string_split(trim(${sqlEncodeChain(K)}), '  '))) AS toks
  FROM u, bl, ${(1 to K).map("m" + _).mkString(", ")}),
utok AS (
  SELECT pid, which, CAST(j AS BIGINT) AS j, toks[j] AS t
  FROM (SELECT pid, which, toks,
      unnest(range(1, len(toks) + 1)) AS j FROM uenc)),
ucid AS (
  SELECT pid, which, list(v.id ORDER BY k.j) AS cids
  FROM utok k JOIN vocab v ON v.token = k.t
  GROUP BY pid, which),
asm AS (
  SELECT p.source, p.chosen_id, p.rejected_id, p.margin,
    coalesce(pc.cids, []) AS pp,
    coalesce(cc.cids, []) AS cs,
    coalesce(rc.cids, []) AS rs
  FROM pairs p
  LEFT JOIN ucid pc ON pc.pid = p.chosen_id AND pc.which = 0
  LEFT JOIN ucid cc ON cc.pid = p.chosen_id AND cc.which = 1
  LEFT JOIN ucid rc ON rc.pid = p.chosen_id AND rc.which = 2),
st AS (
  SELECT source, chosen_id, rejected_id, margin, pp, cs, rs,
    [CAST(${Sft.BosId} AS BIGINT), CAST(${Sft.UserId} AS BIGINT)]
      || pp || [CAST(${Sft.EosId} AS BIGINT),
                CAST(${Sft.AsstId} AS BIGINT)]
      || cs || [CAST(${Sft.EosId} AS BIGINT)] AS cids,
    [CAST(${Sft.BosId} AS BIGINT), CAST(${Sft.UserId} AS BIGINT)]
      || pp || [CAST(${Sft.EosId} AS BIGINT),
                CAST(${Sft.AsstId} AS BIGINT)]
      || rs || [CAST(${Sft.EosId} AS BIGINT)] AS rids
  FROM asm)
SELECT source, chosen_id, rejected_id, CAST(margin AS BIGINT) AS margin,
  CAST(len(pp) AS BIGINT) AS prompt_len,
  CAST(coalesce(list_sum(pp), 0) AS BIGINT) AS prompt_id_sum,
  CAST(len(cids) AS BIGINT) AS chosen_len,
  CAST(len(cs) + 1 AS BIGINT) AS chosen_train,
  CAST(coalesce(list_sum(cids), 0) AS BIGINT) AS chosen_id_sum,
  array_to_string(cids[1:3], '|') AS chosen_head,
  CAST(len(rids) AS BIGINT) AS rejected_len,
  CAST(len(rs) + 1 AS BIGINT) AS rejected_train,
  CAST(coalesce(list_sum(rids), 0) AS BIGINT) AS rejected_id_sum,
  array_to_string(rids[1:3], '|') AS rejected_head
FROM st ORDER BY source, chosen_id"""

  /** The full construction over an already-frozen corpus frame and an
    * already-trained merge table — `pipeline_dpo_shards` trains
    * in-query; `export_dpo_shards` feeds it the freeze store and the
    * reloaded artifact. */
  private[queries] def dpoShards(s: SparkSession, docs: DataFrame,
      merges: Seq[Bpe.Merge]): DataFrame = {
      val bc = s.sparkContext.broadcast(Bpe.idVocabWithSpecials(merges))
      // pairing — train_dpo_pairs' construction verbatim (the graded
      // pairing query is the contract; this composes it — ONE shared
      // implementation, so the funnel-free grouped-ordinal pairing
      // cannot drift between the two queries)
      val pairs = Materialize(TextQueries.dpoPairsOf(docs),
        // three unit derivations + the final join read it — cut the
        // LM-scoring prefix so it computes once
        eager = false)
      // one encode pass over all three units per pair (composite key:
      // pair id × {0 prompt, 1 chosen, 2 rejected})
      val units = pairs
        .join(docs.select(col("doc_id").as("chosen_id"),
          col("text").as("__ct")), Seq("chosen_id"))
        .join(docs.select(col("doc_id").as("rejected_id"),
          col("text").as("__rt")), Seq("rejected_id"))
        .select(col("chosen_id").as("pid"),
          concat(col("source"), lit(" q"),
            (col("chosen_id") + col("rejected_id")).cast("string"))
            .as("p"),
          firstWords(col("__ct"), 8).as("c"),
          firstWords(col("__rt"), 8).as("r"))
        .select(explode(array(
          struct((col("pid") * 3).as("k"), col("p").as("content")),
          struct((col("pid") * 3 + 1).as("k"), col("c").as("content")),
          struct((col("pid") * 3 + 2).as("k"), col("r").as("content"))))
          .as("u"))
        .select(col("u.k").as("k"), col("u.content").as("content"))
      import s.implicits._
      val cids = Bpe.encodeBytesScalable(units, "k", "content", merges)
        .as[(Long, Seq[String])]
        .mapPartitions { it =>
          val v = bc.value
          it.map { case (k, toks) =>
            (k / 3, k % 3,
              if (toks == null) Seq.empty[Long] else toks.map(v))
          }
        }
        .toDF("pid", "which", "cids")
      // pair-keyed reassembly (exactly one row per (pid, which))
      val asm = cids.groupBy("pid")
        .agg(
          first(when(col("which") === 0, col("cids")), ignoreNulls = true)
            .as("pp"),
          first(when(col("which") === 1, col("cids")), ignoreNulls = true)
            .as("cs"),
          first(when(col("which") === 2, col("cids")), ignoreNulls = true)
            .as("rs"))
      def stream(content: Column) = concat(
        array(lit(Sft.BosId), lit(Sft.UserId)), col("pp"),
        array(lit(Sft.EosId), lit(Sft.AsstId)), content,
        array(lit(Sft.EosId)))
      def lsum(c: Column) =
        coalesce(aggregate(c, lit(0L), (a, x) => a + x), lit(0L))
      pairs
        .join(asm, pairs("chosen_id") === asm("pid"))
        .withColumn("cids2", stream(col("cs")))
        .withColumn("rids2", stream(col("rs")))
        .select(col("source"), col("chosen_id"), col("rejected_id"),
          col("margin").cast("long").as("margin"),
          size(col("pp")).cast("long").as("prompt_len"),
          lsum(col("pp")).as("prompt_id_sum"),
          size(col("cids2")).cast("long").as("chosen_len"),
          (size(col("cs")) + 1).cast("long").as("chosen_train"),
          lsum(col("cids2")).as("chosen_id_sum"),
          array_join(transform(slice(col("cids2"), 1, 3),
            x => x.cast("string")), "|").as("chosen_head"),
          size(col("rids2")).cast("long").as("rejected_len"),
          (size(col("rs")) + 1).cast("long").as("rejected_train"),
          lsum(col("rids2")).as("rejected_id_sum"),
          array_join(transform(slice(col("rids2"), 1, 3),
            x => x.cast("string")), "|").as("rejected_head"))
        .orderBy("source", "chosen_id")
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("pipeline_dpo_shards", sqlDpoShards) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = Bpe.trainLocal(
        Bpe.wordFreqBytes(docs.filter(col("source") === "src0"),
          "text"), K)
      dpoShards(s, docs, merges)
    })
}
