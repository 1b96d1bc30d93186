package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The micro-batch store: a parquet directory with one `batch_id=N`
  * partition per micro-batch. Its writer is
  * either a `foreachBatch` query that [[start]] begins or a caller
  * that runs the batches itself ([[CorpusStream.freezeBatch]]).
  *
  * '''Crash-replay contract.''' `foreachBatch` may re-run the last
  * micro-batch whose checkpoint did not commit. Every store write here
  * is a DYNAMIC partition overwrite (a writer-scoped option, so no
  * session conf is set and restored under concurrent writers): a
  * replayed batch replaces exactly the partitions it writes, its
  * deterministic output is a superset of whatever a crashed first
  * attempt left, and no orphan rows survive. History reads exclude the
  * current `batch_id`, so a first attempt's partial rows never count
  * as history.
  */
object BatchStore {

  /** Start `writer`'s `foreachBatch` query at `checkpointDir`. */
  def start(writer: DataStreamWriter[Row], checkpointDir: String)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    writer.option("checkpointLocation", checkpointDir)
      .foreachBatch(batch).start()

  /** Write `rows` as batch `batchId`'s partition of `storeDir`. */
  def write(rows: DataFrame, batchId: Long, storeDir: String): Unit =
    rows.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
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
}
