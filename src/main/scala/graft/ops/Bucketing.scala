package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Bucketed co-located fact-fact joins — the WRITE-TIME layout that
  * deletes the shuffle from a repeated big-big join (SCALE.md §2: a
  * lineitem⋈orders on orderkey is a shuffle join unless both tables are
  * bucketed on the key at write time; then it is exchange-free).
  *
  * At 100 TB the arithmetic is stark: a shuffle join on the fact key
  * moves both tables across the network EVERY time the join runs;
  * bucketing moves each table ONCE (at write) and every subsequent
  * join, aggregation, or window keyed on the bucket column reads
  * co-located, pre-sorted buckets — the join becomes a zipper merge of
  * matching bucket files with zero exchange on either side
  * (plan-asserted in `BucketingSpec`; graded end-to-end by
  * `q54_bucketed_join`).
  *
  * Bucketed tables require the table-catalog write path
  * (`bucketBy(...).saveAsTable`), not a bare directory write — the
  * bucket spec lives in catalog metadata, which is what lets the
  * planner trust the layout and elide the exchange.
  */
object Bucketing {

  /** Write `df` as a managed parquet table bucketed AND sorted by `key`
    * into `nBuckets` buckets, replacing any previous version. The sort
    * matters: sorted buckets let a sort-merge join skip its sort as
    * well when each bucket is a single file. */
  /** `table` must be an UNQUALIFIED name in the default database (the
    * stale-location cleanup below resolves it against the warehouse
    * root). Idempotent across sessions: a fixed name overwrites in
    * place instead of accumulating one copy per run. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int): Unit = {
    require(!table.contains("."),
      s"writeBucketed: unqualified default-database name required ($table)")
    val spark = df.sparkSession
    // same-session re-write: drop the catalog entry (which also removes
    // the managed location)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // cross-session leftover: the in-memory catalog forgot the table
    // but its managed directory survived — creating over a non-empty
    // location fails, so clear the default location explicitly
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh,
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // align the write with the bucket function (repartition's
    // HashPartitioning pmod(murmur3, n) IS the bucket-id expression), so
    // each task holds exactly one bucket and every bucket is ONE file.
    // Without this each scan task emits a file per bucket it sees —
    // tasks×nBuckets files, growing with cores — and a multi-file bucket
    // forfeits the sorted-bucket contract the scaladoc sells (the
    // sort-merge read must re-sort, and was measured anti-scaling:
    // q54 2.2s@8 cores vs 3.0s+@32). One exchange of the slimmed
    // projection at write time buys a core-count-independent layout.
    df.repartition(nBuckets, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .saveAsTable(table)
  }
}
