package graft.streaming

import graft.ops.Materialize
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryListener}

import java.util.concurrent.atomic.AtomicBoolean

/** The micro-batch store every streaming gate writes: a parquet
  * directory with one `batch_id=N` partition (optionally split further,
  * e.g. by `cluster_id`) per micro-batch, written by a `foreachBatch`
  * query that this module starts.
  *
  * '''Crash-replay contract.''' `foreachBatch` may re-run the last
  * micro-batch whose checkpoint did not commit. Every store write here
  * is a DYNAMIC partition overwrite (a writer-scoped option, so no
  * session conf is set and restored under concurrent writers): a
  * replayed batch replaces exactly the partitions it writes, its
  * deterministic output is a superset of whatever a crashed first
  * attempt left, and no orphan rows survive. Readers of earlier
  * batches' rows (history reads, compaction folds) exclude the current
  * `batch_id`, so a first attempt's partial rows never count as
  * history. Gates that freeze a side input read one snapshot for the
  * query's lifetime (`foreachBatch` re-plans per trigger, so a live
  * lineage would re-run and could drift), and the snapshot is released
  * when the query terminates, stopped or failed.
  */
object BatchStore {

  /** Start `writer`'s `foreachBatch` query at `checkpointDir`. */
  def start(writer: DataStreamWriter[Row], checkpointDir: String)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    writer.option("checkpointLocation", checkpointDir)
      .foreachBatch(batch).start()

  /** A gate: each micro-batch's `op(batch)` lands as that batch's
    * partition of `storeDir`. */
  def sink(docs: DataFrame, storeDir: String, checkpointDir: String)(
      op: DataFrame => DataFrame): StreamingQuery =
    start(docs.writeStream, checkpointDir) { (batch, batchId) =>
      write(op(batch), batchId, storeDir)
    }

  /** [[sink]] over a side input frozen (eager [[Materialize]]) when the
    * query starts: each batch runs `op(batch, frozen)`. The snapshot is
    * released when the query terminates, by a listener that removes
    * itself. */
  def sinkWith(docs: DataFrame, side: DataFrame, storeDir: String,
      checkpointDir: String)(
      op: (DataFrame, DataFrame) => DataFrame): StreamingQuery = {
    val frozen = Materialize(side, eager = true)
    val released = new AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) Materialize.release(frozen)
    val q =
      try sink(docs, storeDir, checkpointDir)(op(_, frozen))
      catch { case e: Throwable => release(); throw e }
    val streams = q.sparkSession.streams
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent) = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == q.id) { streams.removeListener(this); release() }
    }
    streams.addListener(listener)
    // the query may have ended before the listener was registered
    if (!q.isActive) { streams.removeListener(listener); release() }
    q
  }

  /** Write `rows` as batch `batchId`'s partitions of `storeDir`,
    * partitioned by `batch_id` and then `partitionCols`. */
  def write(rows: DataFrame, batchId: Long, storeDir: String,
      partitionCols: String*): Unit =
    rows.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: partitionCols: _*)
      .parquet(storeDir)

  /** The store read with an explicit DDL `schema`: partition-directory
    * inference would int-ify `batch_id`, and a batch that wrote no rows
    * leaves a store with nothing to infer from. */
  def read(spark: SparkSession, storeDir: String, schema: String)
      : DataFrame =
    spark.read.schema(schema).parquet(storeDir)

  /** The rows of every batch but `batchId` (a crashed first attempt's
    * rows are not history), or `None` before the store exists. */
  def history(spark: SparkSession, storeDir: String, schema: String,
      batchId: Long): Option[DataFrame] = {
    val dir = new Path(storeDir)
    if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(dir)) None
    else Some(read(spark, storeDir, schema)
      .filter(col("batch_id") =!= batchId))
  }

  /** Last write wins per `key`: only the rows of each key's newest
    * `batch_id`. */
  def newest(rows: DataFrame, key: String): DataFrame =
    rows.join(rows.groupBy(key).agg(max("batch_id").as("batch_id")),
      Seq(key, "batch_id"))

  /** Batch start: recover a crashed swap, and every `compactEvery`
    * batches fold the rows of EARLIER batches into one partition set
    * stamped `batchId - 1` ([[StoreCompaction]]'s park-aside swap). The
    * fold must leave every read of the store unchanged. */
  def compact(spark: SparkSession, storeDir: String, schema: String,
      batchId: Long, compactEvery: Int, partitionCols: String*)(
      fold: DataFrame => DataFrame): Unit = {
    StoreCompaction.recoverParked(spark, storeDir)
    if (StoreCompaction.due(batchId, compactEvery))
      StoreCompaction.swapRewrite(spark, storeDir)(
        read(spark, _, schema),
        all => fold(all.filter(col("batch_id") < batchId))
          .withColumn("batch_id", lit(batchId - 1)),
        (df, dir) => df.write.mode("overwrite")
          .partitionBy("batch_id" +: partitionCols: _*).parquet(dir))
  }
}
