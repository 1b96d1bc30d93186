package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared physical-compaction contract for the micro-batch parquet
  * stores ([[CorpusStream.nearDedupBatches]]' band store, and the
  * [[BatchStore]]s of [[AnnStream.indexBatches]],
  * [[DsirStream.countBatches]] and [[CorpusStream.wetIngestBatches]]).
  * Each grows one `batch_id`-stamped unit per micro-batch forever
  * without it; with it the file count is bounded by `compactEvery` plus
  * one merged unit.
  *
  * The rewrite is the park-aside swap (also [[CorpusStream.upsertBatches]]'
  * snapshot swap): build the compacted frame from the live store, write
  * it to `<store>__compact`, rename the live store to `<store>__old`,
  * rename the rewrite in, delete the park. A crash between the two
  * renames leaves a parked store with no live one — [[recoverParked]]
  * at the NEXT batch start completes the swap (rename back), so no
  * window loses the store. A crash before the first rename loses only
  * the tmp dir (overwritten next time).
  *
  * Replay safety: a fold of a [[BatchStore]] excludes the current
  * batch's rows ([[BatchStore.compact]] applies that rule); dropping
  * them in the rewrite is safe because the replay rewrites them.
  */
object StoreCompaction {

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Is a compaction pass due at this batch? (`compactEvery <= 0`
    * disables compaction entirely.) */
  def due(batchId: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  /** Recover a crashed swap: a parked `<store>__old` with no live store
    * means the process died between the two renames. MUST run at batch
    * start, before any read of the store. */
  def recoverParked(spark: SparkSession, storeDir: String): Unit = {
    val fs = fsOf(spark, storeDir)
    val store = new Path(storeDir)
    val parked = new Path(storeDir + "__old")
    if (!fs.exists(store) && fs.exists(parked))
      rename(fs, parked, store, storeDir)
  }

  /** Park-aside crash-safe rewrite of an existing store (no-op when the
    * store does not exist yet). `read` materializes the live store
    * (callers pass their explicit-schema reader — partition-directory
    * inference would int-ify `batch_id`), `fold` produces the compacted
    * frame, `write` lands it (same partitioning as the live store, so
    * downstream readers see an identical layout contract). */
  def swapRewrite(spark: SparkSession, storeDir: String)(
      read: String => DataFrame,
      fold: DataFrame => DataFrame,
      write: (DataFrame, String) => Unit): Unit = {
    val fs = fsOf(spark, storeDir)
    if (!fs.exists(new Path(storeDir))) return
    val tmp = new Path(storeDir + "__compact")
    write(fold(read(storeDir)), tmp.toString)
    swapIn(fs, storeDir, tmp)
  }

  /** Make the fully written `tmp` the store: park the live store (if
    * any) at `<store>__old`, rename `tmp` in, delete the park. Every
    * rename is checked (Hadoop reports failure by returning false): a
    * refused park leaves the live store untouched, and a refused
    * rename-in puts the park back, so the batch fails with the store
    * intact instead of renaming the rewrite INTO the live directory. */
  private[streaming] def swapIn(fs: FileSystem, storeDir: String,
      tmp: Path): Unit = {
    val store = new Path(storeDir)
    val parked = new Path(storeDir + "__old")
    if (fs.exists(parked)) fs.delete(parked, true)
    val live = fs.exists(store)
    if (live) rename(fs, store, parked, storeDir)
    if (!fs.rename(tmp, store)) {
      if (live) fs.rename(parked, store)
      fail(tmp, store, storeDir)
    }
    fs.delete(parked, true)
    ()
  }

  private def rename(fs: FileSystem, from: Path, to: Path,
      storeDir: String): Unit =
    if (!fs.rename(from, to)) fail(from, to, storeDir)

  private def fail(from: Path, to: Path, storeDir: String): Nothing =
    throw new java.io.IOException(
      s"store $storeDir: rename $from -> $to failed; the swap stopped " +
        "with the store in place (or parked at __old, which the next " +
        "batch restores)")
}
