package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ANN index maintenance — the IVF-PQ lifecycle on an
  * unbounded embedding stream (the streaming twin of
  * [[graft.ext.Similarity.ivfPqAdd]]): each micro-batch of fresh
  * vectors is encoded against the FROZEN model (nearest-centroid
  * assign + residual PQ, two broadcast joins, zero shuffles of the
  * existing corpus) and written into a cluster-partitioned parquet
  * store that serving reads with partition pruning.
  *
  * Crash safety is [[BatchStore]]'s replay contract, with no
  * band-store-style swap dance: rows are partitioned by (batch_id,
  * cluster_id), so a replayed batch rewrites exactly its own partitions.
  * Retraining (a new [[Similarity.ivfPqBuild]]) happens out of band when
  * drift accumulates; until then every batch is two broadcast joins.
  */
object AnnStream {

  /** Start the index-maintenance stream: `emb` must carry (`idCol`,
    * `embCol` array<float>). Store layout:
    * `storeDir/batch_id=N/cluster_id=C/…` — `cluster_id` stays a
    * partition key so a serve-side `cluster_id IN (probes)` predicate
    * prunes at file listing exactly as on the build store.
    *
    * Every `compactEvery` batches (0 disables) the accumulated history
    * is physically folded ([[BatchStore.compact]]): all partitions with
    * `batch_id < current` collapse to ONE merged `batch_id = current-1`
    * partition set after applying the id-keyed last-write-wins
    * [[readCodes]] performs at read time — so the fold changes no
    * served result, and the store's partition count is bounded by
    * `compactEvery + 1` instead of stream lifetime. */
  def indexBatches(emb: DataFrame, model: Similarity.IvfPqModel,
      storeDir: String, checkpointDir: String,
      idCol: String = "vec_id", embCol: String = "embedding",
      compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(emb.writeStream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      // after the per-id fold exactly one encoding per id remains, so
      // re-stamping the merged set to one batch id preserves
      // last-write-wins against all FUTURE batches
      BatchStore.compact(spark, storeDir, Schema, batchId, compactEvery,
        "cluster_id")(BatchStore.newest(_, "id"))
      BatchStore.write(Similarity.ivfPqAdd(model, batch, idCol, embCol),
        batchId, storeDir, "cluster_id")
    }

  /** The store's physical row shape. */
  private val Schema =
    "id LONG, sub LONG, code LONG, batch_id LONG, cluster_id LONG"

  /** Read the store back in `model.codes` schema/column order.
    *
    * LAST WRITE WINS per vector: a vector id re-emitted in a later
    * batch (a recomputed embedding) leaves BOTH encodings in the
    * append-only store; serving over both would double the ADC partial
    * sums (same cluster) or return the id twice (different clusters).
    * The read keeps only each id's newest batch ([[BatchStore.newest]]),
    * the standard compacted-log read. Ids must be unique WITHIN a batch
    * (one embedding per id per micro-batch). */
  def readCodes(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.newest(BatchStore.read(spark, storeDir, Schema), "id")
      .select("id", "cluster_id", "sub", "code")

  /** Union build-time codes with stream codes for serving, id-keyed
    * NEWEST WINS across the build/stream boundary: an id present in
    * both (a recomputed build-time embedding re-emitted on the stream)
    * keeps only the STREAM encoding — [[readCodes]]' last-write-wins
    * covers rows within the store; this closes the remaining gap
    * against `model.codes`. The anti-join's right side is the stream
    * ids only (broadcastable while the stream tail is small relative to
    * the build corpus); no shuffle of the build codes beyond the join
    * itself. */
  def mergedCodes(buildCodes: DataFrame, streamCodes: DataFrame): DataFrame =
    buildCodes
      .join(streamCodes.select("id").distinct(), Seq("id"), "left_anti")
      .unionByName(streamCodes.select(buildCodes.columns.map(col): _*))
}
