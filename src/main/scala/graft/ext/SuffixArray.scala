package graft.ext

import graft.ops.PrefixSum
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.CountedRelation
import org.apache.spark.storage.StorageLevel

/** Distributed suffix-array construction and UNBOUNDED-length exact
  * duplicated-substring extraction — the "ExactSubstr" dedup of Lee et
  * al., "Deduplicating Training Data Makes Language Models Better"
  * (ACL 2022), next to [[Dedup.substringDedup]]'s fixed-L n-gram
  * approximation. The fixed-L form can only report duplication at
  * gram granularity above its threshold; the suffix array finds the
  * EXACT maximal extent of every duplicated substring of length >=
  * `minLen`, however long.
  *
  * Construction is prefix doubling (Manber & Myers 1990) in its
  * sort-based distributed form (Flick & Aluru, "Parallel distributed
  * memory construction of suffix and LCP arrays", SC'15), seeded at
  * width [[InitWidth]] directly from substring keys (the first
  * log2(InitWidth) rounds replaced by one dense-rank scan):
  * O(log maxRepeat) rounds total, each a keyed self-join (rank at
  * `pos` paired with rank at `pos + width`) plus a dense re-rank via
  * the range-partitioned [[PrefixSum]] — every step is a keyed
  * shuffle; nothing ever sits in one partition. Suffixes are PER
  * DOCUMENT (never crossing a document boundary); a suffix shorter
  * than the current width gets a rank key carrying its document id
  * ("ended" keys), and a per-document virtual SENTINEL position
  * covers the exact-boundary probe — together they guarantee (a)
  * every suffix is globally unique so the doubling terminates, and
  * (b) rank equality at width w implies w REAL equal characters, the
  * property the LCP step needs to never overestimate across
  * truncated tails.
  *
  * LCP of SA-adjacent pairs descends the doubling levels below the
  * last (add `width` when ranks at the current offset match; the last
  * level is all-distinct, so two different suffixes never match there),
  * then finishes the sub-InitWidth remainder by DIRECT character
  * comparison against the seed level's InitWidth-char substrings — two
  * joins plus a codegen'd common-prefix expression instead of
  * log2(InitWidth) more rank-table levels. When the seed is already
  * all-distinct there is no descent at all.
  *
  * Each rank level is ONE ordered scan: [[PrefixSum.withDenseRankCounted]]
  * ranks the level's keys in place (equal keys share a range partition)
  * and returns the distinct-key count and the row count from its stats
  * pass — no distinct, no ordinal over distinct keys, no join back and
  * no count job. The scan's checkpoint ([[graft.ops.Materialize]],
  * so `spark.checkpoint.dir` makes it reliable) holds the level; the
  * level's frame is a fresh leaf over it that carries the measured row
  * count ([[org.apache.spark.sql.graftx.CountedRelation]]), because a
  * checkpoint leaf inherits its origin plan's join estimate and the
  * chained self-joins would square it every round. The LCP descent
  * (every third level) and the returned spans still [[materialize]].
  *
  * 100 TB shape: N = corpus characters + document count rows; each
  * round is one keyed self-join over N plus one range shuffle over N;
  * intermediates are released as soon as superseded. The final
  * interval merge runs per document behind one hash exchange on the
  * document id (window groups bounded by document length — the
  * packing_layout bounded-window carve-out).
  */
object SuffixArray {

  /** Seed width: the doubling starts from substring keys of this many
    * characters. 32 keeps the seed's scan cheap (32 chars/row) while
    * replacing five doubling rounds and five LCP levels. */
  val InitWidth: Int = 32

  /** Materialized LCP-descent state and the returned spans. Two traps
    * force this exact shape:
    * (a) plain persist() leaves the LOGICAL plan nested — each step
    * embeds the previous step's tree, so analysis cost grows per step;
    * (b) localCheckpoint() truncates the tree but REWRITES the new
    * leaf's statistics from the origin plan, whose join-stats multiply
    * — the sizeInBytes BigInt doubles its DIGIT COUNT per join link and
    * the driver ends up in 10^5-digit Toom-Cook multiplications inside
    * stats estimation (measured 400+ s at sf0.01 vs ~20 s of real
    * work). Rebuilding from the row RDD cuts BOTH: a fresh LogicalRDD
    * leaf with constant default stats, then persist, and one row-RDD
    * count over the cached plan builds every cache batch, so the cache
    * carries the MEASURED byte size from then on (`Dataset.count` would
    * plan an aggregate exchange on top — two more jobs under AQE). */
  private def materialize(df: DataFrame): DataFrame = {
    val cut = df.sparkSession.createDataFrame(df.rdd, df.schema)
    val p = cut.persist(StorageLevel.MEMORY_AND_DISK)
    p.queryExecution.toRdd.count()
    p
  }

  /** One doubling level: `ranks` holds (id, pos, r) where `r`
    * separates suffixes by their first `width` extended symbols
    * (rank equality implies `width` REAL equal characters; a rank
    * whose window crosses its document's end is unique); the seed
    * level's `ranks` also hold `sub`, the [[InitWidth]]-char substring
    * at `pos` ("" for a sentinel). `ranks` is a counted leaf over
    * `scan`, the level's [[PrefixSum]] frame, whose checkpoint holds
    * the rows. */
  final case class Level(width: Long, ranks: DataFrame, scan: DataFrame)

  /** Per-row array-allocation bound for [[positions]]: the position
    * explode goes through fixed-size slabs, so one very long document
    * allocates O(SlabWidth) per generated row, never O(doc length) in
    * one array (Spark caps array sizes near 2^31 elements and a
    * gigachar document would otherwise materialize its whole position
    * list in a single task buffer before exploding). */
  val SlabWidth: Long = 4096L

  /** (id, pos, sub) with `sub` = the [[InitWidth]]-char substring at
    * 0-based character position `pos`, plus per-document sentinel
    * rows (pos = length, sub = null). Not materialized: the seed
    * level's scan reads it once. */
  private def positions(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val chars = df
      .select(col(idCol).cast("long").as("id"),
        coalesce(col(textCol), lit("")).as("t"))
      .filter(length(col("t")) > 0)
      // bounded two-level explode: slab index, then positions within
      // the slab — constant per-row allocation regardless of doc size
      .select(col("id"),
        explode(expr(
          s"sequence(0L, (CAST(length(t) AS BIGINT) - 1L)" +
            s" div $SlabWidth)")).as("slab"),
        col("t"))
      .select(col("id"),
        explode(expr(
          s"sequence(slab * $SlabWidth," +
            s" least(CAST(length(t) AS BIGINT) - 1L," +
            s" slab * $SlabWidth + ${SlabWidth - 1L}))")).as("pos"),
        col("t"))
      .select(col("id"), col("pos"),
        expr(s"substring(t, CAST(pos + 1 AS INT), $InitWidth)")
          .as("sub"))
    val sentinels = df
      .select(col(idCol).cast("long").as("id"),
        coalesce(length(col(textCol)), lit(0)).cast("long").as("pos"),
        lit(null).cast("string").as("sub"))
    chars.unionByName(sentinels)
  }

  /** Prefix-doubling rank tables over `pos` (a [[positions]] frame).
    * Returns every level in ascending width order; the LAST level's
    * ranks are all-distinct (the suffix array: `r` is the suffix's
    * 1-based position under a total order that keeps common-prefix
    * runs contiguous). Levels hold checkpoints — callers release them
    * via [[unpersistLevels]]. */
  def suffixLevels(pos: DataFrame, maxRounds: Int = 40): Seq[Level] = {
    // width-InitWidth seed: key = the substring, plus an "ended"
    // discriminator (suffix shorter than InitWidth, or the sentinel)
    // carrying the doc id — ended keys are unique per suffix (a
    // document's suffixes are pairwise distinct strings), which is
    // what makes every window crossing a doc end rank uniquely
    val ended = col("sub").isNull || length(col("sub")) < InitWidth
    val keyed = pos.select(col("id"), col("pos"),
      struct(
        coalesce(col("sub"), lit("")).as("c"),
        when(ended, 1).otherwise(0).as("t"),
        when(ended, col("id")).otherwise(0L).as("d"),
        when(ended, col("pos")).otherwise(0L).as("p"))
        .as("k"))
    val (seedScan, seedKeys, total) =
      PrefixSum.withDenseRankCounted(keyed, "r", Seq(col("k")))
    def level(width: Long, scan: DataFrame, cols: Column*): Level =
      Level(width, CountedRelation.cut(scan.select(cols: _*), total), scan)
    var cur = level(InitWidth.toLong, seedScan,
      col("id"), col("pos"), col("r"), col("k.c").as("sub"))
    val levels = Seq.newBuilder[Level]
    levels += cur
    var distinctRanks = seedKeys
    var rounds = 0
    while (distinctRanks < total && rounds < maxRounds) {
      // pair rank(pos) with rank(pos + width); absent partner (tail
      // shorter than width) pads with -1, which sorts first
      val ranks = cur.ranks.select(col("id"), col("pos"), col("r"))
      val shifted = ranks.select(col("id"),
        (col("pos") - cur.width).as("pos"), col("r").as("r2"))
      val paired = ranks.join(shifted, Seq("id", "pos"), "left")
        .select(col("id"), col("pos"),
          struct(col("r"), coalesce(col("r2"), lit(-1L)).as("r2"))
            .as("pk"))
      val (scan, keys, _) =
        PrefixSum.withDenseRankCounted(paired, "r", Seq(col("pk")))
      distinctRanks = keys
      cur = level(cur.width * 2, scan, col("id"), col("pos"), col("r"))
      levels += cur
      rounds += 1
    }
    require(distinctRanks == total,
      s"SuffixArray: ranks not unique after $rounds rounds " +
        s"(width ${cur.width}) — raise maxRounds")
    levels.result()
  }

  /** Release the levels' checkpoints. */
  def unpersistLevels(levels: Seq[Level]): Unit =
    levels.foreach(lvl => PrefixSum.release(lvl.scan))

  /** LCP of each SA-adjacent suffix pair: descend the doubling levels
    * below the last (add `width` on rank match at the running offset),
    * then close the sub-InitWidth remainder by direct character
    * comparison against the seed level's substrings. Returns
    * (id_a, pos_a, id_b, pos_b, lcp), not materialized, with the
    * descent's last materialization, which it reads: callers unpersist
    * that after the LCP frame's last action. */
  private def adjacentLcp(levels: Seq[Level])
      : (DataFrame, Option[DataFrame]) = {
    val sa = levels.last.ranks
    val next = sa.select((col("r") - 1L).as("r"),
      col("id").as("id_b"), col("pos").as("pos_b"))
    var p = sa.select(col("r"), col("id").as("id_a"),
        col("pos").as("pos_a"))
      .join(next, Seq("r"))
      .drop("r")
      .withColumn("l", lit(0L))
    var prev: Option[DataFrame] = None
    var sinceMaterialize = 0
    // the last level is all-distinct: at offset 0 two different
    // suffixes never share its rank, so its step could add nothing
    levels.init.reverse.foreach { lvl =>
      val ta = lvl.ranks.select(col("id").as("__ia"),
        col("pos").as("__pa"), col("r").as("__ra"))
      val tb = lvl.ranks.select(col("id").as("__ib"),
        col("pos").as("__pb"), col("r").as("__rb"))
      // probe keys pre-materialized as attributes so the planner sees
      // plain equi-join keys
      p = p
        .withColumn("__qa", col("pos_a") + col("l"))
        .withColumn("__qb", col("pos_b") + col("l"))
        .join(ta, col("id_a") === col("__ia") &&
          col("__qa") === col("__pa"), "left")
        .join(tb, col("id_b") === col("__ib") &&
          col("__qb") === col("__pb"), "left")
        .withColumn("l",
          when(col("__ra").isNotNull && col("__ra") === col("__rb"),
            col("l") + lvl.width).otherwise(col("l")))
        .drop("__ia", "__pa", "__ra", "__ib", "__pb", "__rb",
          "__qa", "__qb")
      sinceMaterialize += 1
      if (sinceMaterialize == 3) { // bound the chained-join plan depth
        p = materialize(p)
        prev.foreach(_.unpersist(blocking = true))
        prev = Some(p)
        sinceMaterialize = 0
      }
    }
    // remainder < InitWidth: direct common-prefix count over the two
    // InitWidth-char substrings at the running offsets. The level
    // descent guarantees the true remainder is < InitWidth, so the
    // windowed comparison is exact. One linear codegen'd byte walk
    // per pair (CommonPrefixLength) — not the O(InitWidth²)
    // filter(sequence(..)) HOF it replaced. A sentinel's substring is
    // "", which shares no prefix.
    val seed = levels.head.ranks
    val suba = seed.select(col("id").as("__ia"), col("pos").as("__pa"),
      col("sub").as("__sa"))
    val subb = seed.select(col("id").as("__ib"), col("pos").as("__pb"),
      col("sub").as("__sb"))
    val lcp = p
      .withColumn("__qa", col("pos_a") + col("l"))
      .withColumn("__qb", col("pos_b") + col("l"))
      .join(suba, col("id_a") === col("__ia") &&
        col("__qa") === col("__pa"), "left")
      .join(subb, col("id_b") === col("__ib") &&
        col("__qb") === col("__pb"), "left")
      .withColumn("lcp", col("l") + coalesce(
        graft.functions.CommonPrefixLength(col("__sa"), col("__sb")),
        lit(0L)))
      .select(col("id_a"), col("pos_a"), col("id_b"), col("pos_b"),
        col("lcp"))
    (lcp, prev)
  }

  /** Maximal duplicated spans of length >= `minLen`: every position's
    * longest repeated prefix is max(LCP with SA-predecessor, LCP with
    * SA-successor) — the classic suffix-array property — and the
    * union of those intervals, merged per document, is exactly the
    * set of maximal substrings of length >= minLen occurring at two
    * or more (document, offset) positions corpus-wide. Returns
    * (id, span_start, span_len), the extraction half of Lee et al.'s
    * ExactSubstr dedup. The result is persisted and all construction
    * state is dropped before return; callers own the returned cache
    * (the Verify/Bench clearCache contract). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 1, s"SuffixArray.duplicatedSpans: minLen >= 1")
    val levels = suffixLevels(positions(df, idCol, textCol))
    val (lcp, held) = adjacentLcp(levels)
    // one read of the pairs, each bounding the repeat at both of its
    // ends, hashed by document: the max, the window and the island
    // merge below need no further exchange
    val replen = lcp
      .select(explode(array(
          struct(col("id_a").as("id"), col("pos_a").as("pos")),
          struct(col("id_b").as("id"), col("pos_b").as("pos")))).as("e"),
        col("lcp"))
      .select(col("e.id").as("id"), col("e.pos").as("pos"), col("lcp"))
      .repartition(col("id"))
      .groupBy("id", "pos")
      .agg(max(col("lcp")).as("replen"))
      .filter(col("replen") >= minLen.toLong)
    // interval union -> maximal contiguous coverage runs, per doc
    // (bounded window: group size <= document length)
    val w = Window.partitionBy("id").orderBy("pos")
    val spans = replen
      .select(col("id"), col("pos"),
        (col("pos") + col("replen")).as("end"))
      .withColumn("prevMax", max(col("end")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prevMax").isNull || col("pos") > col("prevMax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("end")) - min(col("pos"))).as("span_len"))
      .select(col("id"), col("span_start"), col("span_len"))
    val out = materialize(spans)
    held.foreach(_.unpersist(blocking = true))
    unpersistLevels(levels)
    out
  }

  /** The REMOVAL half of ExactSubstr: cut EVERY reported span (no
    * keeper — Lee et al. remove all occurrences) and reassemble each
    * document from its between-span segments. `spans` is a
    * [[duplicatedSpans]] frame; spans are disjoint per document by
    * construction, so the zip_with over the sorted span list is a
    * clean segment walk — per-document work bounded by span count,
    * no character-level explode. Returns (`idCol`, clean_text). */
  def removeSpans(docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    // spans must be a duplicatedSpans frame — its key is the literal
    // column "id" regardless of the docs-side idCol; a differently
    // keyed frame would join wrong silently, so refuse loudly
    require(Seq("id", "span_start", "span_len")
        .forall(spans.columns.contains),
      "SuffixArray.removeSpans: `spans` must be a duplicatedSpans " +
        s"frame with columns (id, span_start, span_len); got " +
        s"(${spans.columns.mkString(", ")})")
    val agg = spans.groupBy(col("id").as(idCol))
      .agg(sort_array(collect_list(struct(col("span_start"),
        col("span_len")))).as("ss"))
    docs
      .select(col(idCol), coalesce(col(textCol), lit("")).as("__t"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        when(col("ss").isNull, col("__t")).otherwise(
          // between-span segments: [0, s1), [e1, s2), ..., [ek, len)
          expr("""array_join(zip_with(
            |  concat(array(0L),
            |    transform(ss, x -> x.span_start + x.span_len)),
            |  concat(transform(ss, x -> x.span_start),
            |    array(CAST(length(__t) AS BIGINT))),
            |  (s, e) -> substring(__t, CAST(s + 1 AS INT),
            |    CAST(e - s AS INT))), '')""".stripMargin))
          .as("clean_text"))
  }
}
