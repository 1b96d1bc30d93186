package graft.streaming

import graft.ext.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance of the DSIR raw-corpus feature distribution —
  * the statistics half of importance resampling kept fresh as the crawl
  * grows, without ever re-scanning history.
  *
  * The whole trick is that the DSIR count table is HASH-BOUNDED: every
  * document's unigram+bigram bag folds into `buckets` ids
  * ([[TextAnalysis.dsirFeatures]]), so a micro-batch contributes at
  * most `buckets` (f, cnt) rows and the accumulated store stays
  * `buckets × nBatches` rows of exact integers — mergeable by SUM in
  * any order, tiny at any corpus size. Scoring reads the merged table
  * through [[TextAnalysis.dsirScoreAgainstCounts]], which reproduces
  * the batch [[TextAnalysis.dsirWeights]] bit for bit on the same
  * corpus (spec-pinned differential).
  *
  * Crash safety is [[BatchStore]]'s replay contract: a replayed
  * micro-batch rewrites exactly its own `batch_id` partition, so
  * double-counting is impossible.
  */
object DsirStream {

  /** Start the count-maintenance stream: each micro-batch's hashed
    * feature counts land in `storeDir/batch_id=N/`.
    *
    * Every `compactEvery` batches (0 disables) the accumulated
    * partitions fold physically (park-aside swap):
    * counts are mergeable by SUM in any order, so compaction is the
    * EXACT per-bucket sum of all `batch_id < current` partitions,
    * re-stamped as one `batch_id = current-1` partition — at most
    * `buckets` rows, and [[readCounts]]' merge is unchanged by
    * construction ([[BatchStore.compact]]). */
  def countBatches(docs: DataFrame, storeDir: String,
      checkpointDir: String, textCol: String = "text",
      buckets: Int = 256, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(docs.writeStream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      BatchStore.compact(spark, storeDir, Schema, batchId, compactEvery)(
        _.groupBy("f").agg(sum("cnt").as("cnt")))
      BatchStore.write(batch
          .select(explode(
            TextAnalysis.dsirFeatures(col(textCol), buckets)).as("f"))
          .groupBy("f").agg(count(lit(1)).as("cnt")),
        batchId, storeDir)
    }

  /** The store's physical row shape. */
  private val Schema = "f LONG, cnt LONG, batch_id LONG"

  /** Merged raw-count table (f, rcnt) from the store — exact integer
    * sums across batch partitions, the shape
    * [[TextAnalysis.dsirScoreAgainstCounts]] consumes. */
  def readCounts(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.read(spark, storeDir, Schema)
      .groupBy("f").agg(sum("cnt").as("rcnt"))
}
