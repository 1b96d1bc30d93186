package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{BatchAssembly, Materialize}
import org.apache.spark.sql.functions._

/** Length-bucketed batch assembly — the padding-minimizing batching
  * step between packing and the training loop, graded per batch: the
  * oracle replays the power-of-two banding, the (len, doc_id) total
  * order and the fixed batch fill, then both sides account the
  * padding integer-exactly (`n_seqs * max_len - sum_len`, the pad
  * tokens a dense batch of the bucket's sequences would burn). A
  * wrong bucket edge, an unstable tie-break or a batch spanning two
  * buckets all flip the hash.
  *
  * The length key here is the whitespace token count (map-only to
  * compute); any monotone length statistic slots in — the tokenized
  * variant composes with `pipeline_token_ids`' subword counts.
  */
object BatchAssemblyQueries {

  /** Sequences per training batch. */
  private val B = 16

  /** The batching SQL over a source CTE providing (doc_id, n_tokens):
    * power-of-two banding, the (len, doc_id) order, fixed batch fill,
    * per-batch padding accounting — ONE definition shared by the
    * whitespace-length and tokenizer-length grades. */
  private def sqlBatchTail(src: String): String =
    s"""db AS (
  SELECT doc_id, n_tokens,
    CAST(length(bin(n_tokens)) AS INT) AS bucket
  FROM $src WHERE n_tokens > 0),
rk AS (
  SELECT bucket, n_tokens,
    row_number() OVER (PARTITION BY bucket
      ORDER BY n_tokens, doc_id) AS seq
  FROM db),
ba AS (
  SELECT bucket, CAST((seq - 1) // $B AS BIGINT) AS batch_idx,
    n_tokens
  FROM rk)
SELECT bucket, batch_idx,
  CAST(COUNT(*) AS BIGINT) AS n_seqs,
  CAST(MIN(n_tokens) AS BIGINT) AS min_len,
  CAST(MAX(n_tokens) AS BIGINT) AS max_len,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
    AS padding_waste
FROM ba GROUP BY 1, 2
ORDER BY bucket, batch_idx"""

  /** The shared Spark-side batch aggregation over a (doc_id,
    * n_tokens) frame. */
  private def sparkBatches(lens: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    BatchAssembly.lengthBucketedBatches(lens, col("n_tokens"), B,
        col("doc_id"))
      .groupBy(col("bucket"), col("batch_idx"))
      .agg(count(lit(1)).cast("long").as("n_seqs"),
        min(col("n_tokens")).cast("long").as("min_len"),
        max(col("n_tokens")).cast("long").as("max_len"),
        sum(col("n_tokens")).cast("long").as("sum_len"))
      .withColumn("padding_waste",
        (col("n_seqs") * col("max_len") - col("sum_len"))
          .cast("long"))
      .orderBy("bucket", "batch_idx")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("pipeline_length_batches",
      s"""WITH dl AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text, ' '),
      v -> length(v) > 0)) AS BIGINT) AS n_tokens
  FROM documents),
""" + sqlBatchTail("dl")) { (s, d) =>
      val docs = Tables.documents(s, d)
      sparkBatches(docs.select(col("doc_id"),
        size(filter(graft.ext.TextAnalysis.tokens(col("text")),
          w => length(w) > 0)).cast("long").as("n_tokens")))
    },

    // The TOKENIZED variant: the length key is the graded BPE
    // tokenizer's subword count, so the batches a dataloader gets are
    // sized in the unit the model actually consumes — the end-to-end
    // tokenize -> bucket -> batch composition the length grade's doc
    // promises. The oracle re-trains the merge chain and re-counts
    // every document's subwords before replaying the same banding.
    QueryDef("pipeline_token_batches",
      "WITH " + BpeQueries.sqlTrainCtes(BpeQueries.K,
        " WHERE source = 'src0'") + s""",
tc AS (
  SELECT doc_id,
    CAST(coalesce(list_sum(list_transform(
      list_filter(string_split(text, ' '), v -> length(v) > 0),
      w -> len(string_split(trim(${BpeQueries.sqlEncodeChainTables(
        (1 to BpeQueries.K).map("m" + _))}), '  ')))), 0)
      AS BIGINT) AS n_tokens
  FROM documents, ${(1 to BpeQueries.K).map("m" + _).mkString(", ")}),
""" + sqlBatchTail("tc")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = graft.ext.Bpe.trainLocal(
        graft.ext.Bpe.wordFreq(
          docs.filter(col("source") === "src0"), "text"),
        BpeQueries.K)
      sparkBatches(
        graft.ext.Bpe.encodeScalable(docs, "doc_id", "text", merges)
          .select(col("doc_id"),
            coalesce(size(col("tokens")), lit(0)).cast("long")
              .as("n_tokens")))
    },

    // PACKING-EFFICIENCY audit — "measure, don't guess" for the
    // assembly strategy choice itself: the THREE layouts this repo
    // ships, accounted over the SAME length frame in exact integers.
    //   concat_chunk    — documents concatenated and split at 2048
    //                     (pipeline_bpe_chunks' shape): padding only
    //                     in the tail chunk, nothing dropped.
    //   padded_solo     — the naive SFT baseline, one document per
    //                     2048 slot: padding = slot remainder, and
    //                     overlong documents TRUNCATE (the only
    //                     strategy that drops tokens — the audit
    //                     makes that cost a graded number).
    //   length_bucketed — pipeline_length_batches' power-of-two
    //                     banding at 16 seqs/batch: slots = per-batch
    //                     n_seqs·max_len, pad = the batches' summed
    //                     padding_waste.
    // One row per strategy: units, slots, payload, pad, dropped and
    // integral permil efficiency. Cost: one length map pass feeding
    // three bounded aggregations (two corpus folds + the bucketed
    // keyed agg); the comparison table is 3 rows.
    QueryDef("pipeline_packing_efficiency",
      s"""WITH dl AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text, ' '),
      v -> length(v) > 0)) AS BIGINT) AS n_tokens
  FROM documents),
dp AS (SELECT doc_id, n_tokens FROM dl WHERE n_tokens > 0),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS p,
    CAST(COUNT(*) AS BIGINT) AS nd
  FROM dp),
db AS (
  SELECT doc_id, n_tokens,
    CAST(length(bin(n_tokens)) AS INT) AS bucket
  FROM dp),
rk AS (
  SELECT bucket, n_tokens,
    row_number() OVER (PARTITION BY bucket
      ORDER BY n_tokens, doc_id) AS seq
  FROM db),
ba AS (
  SELECT bucket, CAST((seq - 1) // $B AS BIGINT) AS batch_idx,
    n_tokens
  FROM rk),
bb AS (
  SELECT bucket, batch_idx, COUNT(*) AS ns, MAX(n_tokens) AS mx,
    SUM(n_tokens) AS sl
  FROM ba GROUP BY 1, 2),
s1 AS (
  SELECT 'concat_chunk' AS strategy,
    CAST((p + 2047) // 2048 AS BIGINT) AS units,
    CAST(((p + 2047) // 2048) * 2048 AS BIGINT) AS slots,
    p AS payload_tokens, CAST(0 AS BIGINT) AS dropped_tokens
  FROM tot),
s2 AS (
  SELECT 'padded_solo' AS strategy, tot.nd AS units,
    CAST(tot.nd * 2048 AS BIGINT) AS slots,
    CAST((SELECT SUM(least(n_tokens, 2048)) FROM dp) AS BIGINT)
      AS payload_tokens,
    CAST((SELECT SUM(greatest(n_tokens - 2048, 0)) FROM dp) AS BIGINT)
      AS dropped_tokens
  FROM tot),
s3 AS (
  SELECT 'length_bucketed' AS strategy,
    CAST(COUNT(*) AS BIGINT) AS units,
    CAST(SUM(ns * mx) AS BIGINT) AS slots,
    CAST(SUM(sl) AS BIGINT) AS payload_tokens,
    CAST(0 AS BIGINT) AS dropped_tokens
  FROM bb),
u AS (
  SELECT * FROM s1 UNION ALL SELECT * FROM s2
  UNION ALL SELECT * FROM s3)
SELECT strategy, units, slots, payload_tokens,
  CAST(slots - payload_tokens AS BIGINT) AS pad_tokens,
  dropped_tokens,
  CAST(1000 * payload_tokens // slots AS BIGINT) AS eff_permil
FROM u ORDER BY strategy""") { (s, d) =>
      val lens = Materialize(Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(graft.ext.TextAnalysis.tokens(col("text")),
            w => length(w) > 0)).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0L),
        // three strategies fold the same frame — one scan
        eager = false)
      val ctx = 2048L
      val s1 = lens
        .agg(sum("n_tokens").as("p"))
        .select(lit("concat_chunk").as("strategy"),
          call_function("div", col("p") + (ctx - 1L), lit(ctx))
            .as("units"),
          (call_function("div", col("p") + (ctx - 1L), lit(ctx)) * ctx)
            .as("slots"),
          col("p").cast("long").as("payload_tokens"),
          lit(0L).as("dropped_tokens"))
      val s2 = lens
        .agg(count(lit(1)).as("nd"),
          sum(least(col("n_tokens"), lit(ctx))).as("kept"),
          sum(greatest(col("n_tokens") - ctx, lit(0L))).as("cut"))
        .select(lit("padded_solo").as("strategy"),
          col("nd").cast("long").as("units"),
          (col("nd") * ctx).cast("long").as("slots"),
          col("kept").cast("long").as("payload_tokens"),
          col("cut").cast("long").as("dropped_tokens"))
      val s3 = BatchAssembly.lengthBucketedBatches(lens,
          col("n_tokens"), B, col("doc_id"))
        .groupBy(col("bucket"), col("batch_idx"))
        .agg(count(lit(1)).as("ns"), max("n_tokens").as("mx"),
          sum("n_tokens").as("sl"))
        .agg(count(lit(1)).as("units"),
          sum(col("ns") * col("mx")).as("slots"),
          sum(col("sl")).as("payload"))
        .select(lit("length_bucketed").as("strategy"),
          col("units").cast("long").as("units"),
          col("slots").cast("long").as("slots"),
          col("payload").cast("long").as("payload_tokens"),
          lit(0L).as("dropped_tokens"))
      s1.unionByName(s2).unionByName(s3)
        .select(col("strategy"), col("units"), col("slots"),
          col("payload_tokens"),
          (col("slots") - col("payload_tokens")).cast("long")
            .as("pad_tokens"),
          col("dropped_tokens"),
          call_function("div", lit(1000L) * col("payload_tokens"),
            col("slots")).as("eff_permil"))
        .orderBy("strategy")
    }
  )
}
