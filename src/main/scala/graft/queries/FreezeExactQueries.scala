package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.{Bpe, SuffixArray, TextAnalysis}
import graft.ops.Materialize
import org.apache.spark.sql.functions._

/** Data-freeze flagship v2: the curation lineage whose dedup stage is
  * Lee et al.'s ExactSubstr REMOVAL (ACL 2022) — the strongest
  * published dedup primitive — rather than the C4 span approximation
  * `pipeline_data_freeze` uses. One lineage, per-shard as Lee et al.
  * run it (the graded shard is src0): quality gates → suffix-array
  * duplicated-span removal (unbounded duplicate length, EVERY
  * occurrence cut) → exact dedup of the cleaned residue → tokenizer
  * train on the frozen shard → map-only encode → context-window
  * packing → deterministic shard manifest.
  *
  * The oracle replays the WHOLE chain, crossing the two proof
  * techniques: the removal stage replays via the provable
  * gram-interval ⇔ LCP-span equivalence (the `dedup_suffix_removal`
  * oracle construction: repeated 20-gram coverage reassembled
  * char-by-char must equal the suffix-array segment reassembly on
  * every byte), and everything downstream — keeper resolution over
  * the CLEANED text, the 12-stage train chain, the encode chain, the
  * prefix-sum window, shard keys and every manifest column — replays
  * the `pipeline_data_freeze` way. One wrong span boundary changes a
  * cleaned document, which changes the dedup keeper set, the learned
  * merges, every token count, the packing and the checksums: the
  * grade is hash-strict end to end.
  *
  * 100 TB shape: gates are map-only; the suffix array is the one
  * deliberately expensive stage (per-character rows × ~log(maxRepeat)
  * keyed-shuffle rounds — the published algorithm's inherent cost,
  * run per frozen shard exactly as Lee et al. do; see SCALE.md's
  * capacity adjudication); removal, exact dedup, wordFreq, the
  * prefix-sum range partition and the shard agg are each one keyed
  * shuffle. Nothing is quadratic; nothing funnels through one
  * partition.
  */
object FreezeExactQueries {

  import BpeQueries.{K, sqlEncodeChain, sqlTrainCtes}

  /** Context-window token budget for the packing stage. */
  private val Ctx = 1024L

  private def h31(t: String): String = OracleSql.h31(t)

  private val sqlFreezeExact: String = {
    val shardH = h31("CAST(doc_id AS VARCHAR) || '#freeze-x'")
    s"""WITH d AS (
       |  SELECT doc_id, coalesce(text, '') AS text
       |  FROM documents WHERE source = 'src0'),
       |gated AS MATERIALIZED (
       |  SELECT * FROM d
       |  WHERE len(list_filter(string_split(text, ' '),
       |      t -> t IN ('slow', 'big'))) * 1000
       |    <= 100 * len(string_split(text, ' '))),
       |g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    substr(text, CAST(i + 1 AS INT), 20) AS gram
       |  FROM (SELECT doc_id, text,
       |      unnest(range(0, greatest(length(text) - 19, 0))) AS i
       |    FROM gated)),
       |r AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
       |p AS (SELECT doc_id, pos FROM g JOIN r USING (gram)),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + o AS i
       |  FROM p, unnest(range(0, 20)) AS t(o)),
       |ch AS (
       |  SELECT doc_id, CAST(j AS BIGINT) AS i,
       |    substr(text, CAST(j + 1 AS INT), 1) AS c
       |  FROM (SELECT doc_id, text,
       |      unnest(range(0, length(text))) AS j FROM gated)),
       |cl AS MATERIALIZED (
       |  SELECT ch.doc_id, string_agg(c, '' ORDER BY ch.i) AS text
       |  FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id
       |    AND cov.i = ch.i
       |  WHERE cov.i IS NULL GROUP BY ch.doc_id),
       |frozen AS MATERIALIZED (
       |  SELECT doc_id, text FROM cl
       |  WHERE doc_id IN (SELECT min(doc_id) FROM cl GROUP BY text)),
       |""".stripMargin +
      sqlTrainCtes(K, "", from = "frozen") +
      s""",
       |enc AS (
       |  SELECT doc_id,
       |    flatten(list_transform(
       |      list_filter(string_split(text, ' '), v -> length(v) > 0),
       |      w -> string_split(trim(${sqlEncodeChain(K)}), '  ')))
       |      AS toks
       |  FROM frozen, ${(1 to K).map("m" + _).mkString(", ")}),
       |tc AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM enc),
       |rr AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - n_tokens AS BIGINT) AS start_offset
       |  FROM tc),
       |pk AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(FLOOR(CAST(start_offset AS DOUBLE) / $Ctx) AS BIGINT)
       |      AS bin
       |  FROM rr),
       |sh AS (
       |  SELECT p.doc_id, p.n_tokens, p.bin, f.text,
       |    $shardH % 4 AS shard_id,
       |    $shardH * 10000000 + p.doc_id % 10000000 AS k
       |  FROM pk p JOIN frozen f USING (doc_id))
       |SELECT shard_id, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(bin) AS BIGINT) AS bin_checksum,
       |  CAST(SUM(${h31("CAST(doc_id AS VARCHAR) || '|' || text")})
       |    AS BIGINT) AS checksum,
       |  arg_min(doc_id, k) AS first_doc,
       |  arg_max(doc_id, k) AS last_doc
       |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Stage map (Spark side):
    //   1. shard scope + map-only quality gate (badword rate, the
    //      data_freeze gate),
    //   2. ExactSubstr: SuffixArray.duplicatedSpans(minLen=20) over
    //      the gated shard, removeSpans cuts EVERY occurrence and
    //      reassembles from between-span segments; all-removed and
    //      empty docs leave the freeze,
    //   3. exact dedup keep-first (min doc_id) over the CLEANED text
    //      — removal first, then exact: two docs agreeing only after
    //      boilerplate removal dedup here, the production ordering,
    //   4. tokenizer trained on the frozen shard (trainLocal over the
    //      one-pass wordFreq), whole shard encoded map-only,
    //   5. context-window packing (distributed prefix sum — range
    //      partition + driver offsets, never a single-reducer window),
    //   6. deterministic hash shard + integrity manifest.
    QueryDef("pipeline_freeze_exact", sqlFreezeExact) { (s, d) =>
      val d0 = Tables.documents(s, d)
        .filter(col("source") === "src0")
        .select(col("doc_id"),
          coalesce(col("text"), lit("")).as("text"))
      val gated = d0.filter(
        size(filter(TextAnalysis.tokens(col("text")),
          t => t.isin("slow", "big"))) * 1000 <=
          lit(100) * size(TextAnalysis.tokens(col("text"))))
      val spans = SuffixArray.duplicatedSpans(gated, "doc_id", "text",
        minLen = 20)
      val cleaned = SuffixArray.removeSpans(gated, "doc_id", "text",
          spans)
        .filter(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text").as("text"))
      // keeper resolution on the cleaned residue (min-doc_id per text)
      val frozen = Materialize(cleaned.join(
          cleaned.groupBy("text").agg(min("doc_id").as("doc_id"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi"),
        // three consumers (train, encode, manifest join) — cut the
        // gate+suffix-array prefix so it computes once
        eager = false)
      // trainLocal's vocab collect is the first action: it forces the
      // lazy checkpoint of `frozen` WHILE the spans cache is still
      // live; only then drop it (the Verify/Bench clearCache contract
      // would catch it anyway, but within-query hygiene is free)
      val merges = Bpe.trainLocal(Bpe.wordFreq(frozen, "text"), K)
      spans.unpersist()
      val enc = Bpe.encodeScalable(frozen, "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"))
      val packed = graft.ops.PrefixSum.packIntoBins(enc,
          weight = col("n_tokens"), budget = Ctx,
          orderBy = Seq(col("doc_id")))
        .select(col("doc_id"), col("n_tokens"),
          col("bin").cast("long").as("bin"))
      val h = TextAnalysis.tokenHash31(
        concat(col("doc_id").cast("string"), lit("#freeze-x")))
      packed
        .join(frozen, Seq("doc_id"))
        .withColumn("shard_id", h % 4)
        .withColumn("k", h * 10000000L + col("doc_id") % 10000000L)
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          sum(col("bin")).cast("long").as("bin_checksum"),
          sum(TextAnalysis.tokenHash31(concat(
            col("doc_id").cast("string"), lit("|"), col("text"))))
            .cast("long").as("checksum"),
          min_by(col("doc_id"), col("k")).as("first_doc"),
          max_by(col("doc_id"), col("k")).as("last_doc"))
        .orderBy("shard_id")
    })
}
