package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LENGTH-BUCKETED BATCH ASSEMBLY — the padding-minimizing batching
  * step of a training data pipeline (the `group_by_length` /
  * bucketed-batching idiom): sequences batched with near-equal
  * lengths waste almost no pad tokens, while arrival-order batches
  * pay `max(len) - len` padding per row against the batch's longest
  * member.
  *
  *  - BUCKET: power-of-two length bands, computed integer-exactly as
  *    `length(bin(len))` (= floor(log2) + 1 — no float log anywhere,
  *    the standing integer carve-out; `bin` prints the same binary
  *    digits in Spark and DuckDB);
  *  - ORDER: within a bucket, ascending (len, tie) — a total order,
  *    so the assignment is deterministic and partition-count-
  *    independent;
  *  - BATCH: fixed `batchSize` rows per batch in that order; the last
  *    batch of each bucket may run short.
  *
  * SCALE SHAPE: the ordinal is the grouped ordinal of
  * [[PrefixSum.withGroupedRunningTotal]] (weight 1, group `bucket`) —
  * one range shuffle on (bucket, len, tie), one scan of the sorted
  * partitions and a driver prefix sum over ≤ numParts partition
  * totals — NEVER a single-partition window (a bucket can hold
  * billions of rows; `row_number() OVER (PARTITION BY bucket)` would
  * funnel each bucket through one reducer). Bucket bases are a ≤ 64-row
  * broadcast (bucket ids are binary digit counts of a long).
  *
  * Rows with `len <= 0` (empty or null documents) are EXCLUDED —
  * there is nothing to train on and no length band to place them in;
  * quarantine upstream if they must be accounted.
  */
object BatchAssembly {

  /** Assign each row a `bucket`, a 1-based `seq_in_bucket` and a
    * 0-based `batch_idx` (unique within the bucket). `tie` must make
    * (len, tie) a total order. */
  def lengthBucketedBatches(df: DataFrame, len: org.apache.spark.sql.Column,
      batchSize: Long, tie: org.apache.spark.sql.Column): DataFrame = {
    require(batchSize >= 1L,
      s"BatchAssembly.lengthBucketedBatches: batchSize >= 1 ($batchSize)")
    // output + temp column names are RESERVED: withColumn silently
    // REPLACES an existing column, so a caller frame already carrying
    // one of these would have it clobbered mid-plan
    val reserved = Seq("bucket", "seq_in_bucket", "batch_idx", "__len")
    val clash = reserved.filter(df.columns.contains)
    require(clash.isEmpty,
      "BatchAssembly.lengthBucketedBatches: input already has reserved " +
        s"column(s) ${clash.mkString(", ")}")
    val withBucket = df
      .withColumn("__len", len.cast("long"))
      .filter(col("__len") > 0L)
      .withColumn("bucket", length(bin(col("__len"))).cast("int"))
    PrefixSum.withGroupedRunningTotal(withBucket, "seq_in_bucket",
        Seq("bucket"), lit(1L), Seq(col("__len"), tie))
      // (seq-1)/B via double division is exact to 2^53 — same
      // carve-out as PrefixSum.packIntoBins' floor(offset / budget)
      .withColumn("batch_idx",
        floor((col("seq_in_bucket") - 1L) / batchSize).cast("long"))
      .drop("__len")
  }
}
