package graft.ops

import graft.catalog.SerializableHadoopConf
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, LocalFileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.{FileAlreadyExistsException, Files,
  StandardCopyOption}

/** Distributed file-transfer actions (SURVEY.md §2.1 S3-S6): the engine's
  * replacement for the reference's sequential per-file HTTPS loops
  * (`upload_file.py:215-226`, `download_file.py:215-226`,
  * `move_file.py:130-143`, `delete_file.py:127-133`).
  *
  * Execution model: the (src, dest) manifest is a DataFrame; the side
  * effect runs in `foreachPartition`, one Hadoop `FileSystem` handle per
  * task, so transfer parallelism = min(#files, cluster task slots) instead
  * of the reference's 1. Copies and moves first deal the manifest's rows
  * round-robin over the task slots ([[spread]]): a manifest numbered
  * where it was listed keeps the listing's partitions, one per subtree,
  * and a subtree holding most of the files would otherwise be
  * transferred by one task. All four clouds' stores (abfss/s3a/gs/file) share
  * the `FileSystem` API, so tests run against `file://` temp dirs with the
  * exact code paths production would use.
  *
  * Semantics preserved from the reference:
  *  - upload refuses to overwrite an existing destination
  *    (`upload_file.py:188-190`) — `overwrite = false` raises
  *    [[BlueprintError.DestinationExists]];
  *  - move = server-side rename when the store supports it, else
  *    copy+delete (`move_file.py:78-107`);
  *  - delete of a missing file raises [[BlueprintError.DeleteError]]
  *    (`delete_file.py:259-261`).
  *
  * A copy INTO a local file system (every download, and tests) is
  * written with `java.nio.file.Files.copy` ([[copyOne]]): Hadoop's
  * `RawLocalFileSystem.create` always sets the new file's permission,
  * which without libhadoop forks a `chmod` per file. No `.crc` sidecar
  * is written next to the copy either way.
  */
object Transfer {

  /** Copy every (`src_path`, `dest_path`) row. Used for both upload and
    * download — direction is just which side is remote. */
  def copyFiles(manifest: DataFrame, overwrite: Boolean = false): Unit = {
    val conf = serializableConf(manifest)
    spread(manifest).foreachPartition { rows =>
      val cache = new FsCache(conf)
      rows.foreach { r =>
        val src = new Path(r.getString(0))
        val dst = new Path(r.getString(1))
        copyOne(cache.get(src), src, cache.get(dst), dst, overwrite,
          conf.value)
      }
    }
  }

  /** Move every (`src_path`, `dest_path`) row: metadata `rename` first
    * (HNS accounts / posix), copy+delete fallback (flat namespaces) —
    * exactly the reference's copy-then-delete with the fast path added. */
  def moveFiles(manifest: DataFrame): Unit = {
    val conf = serializableConf(manifest)
    spread(manifest).foreachPartition { rows =>
      val cache = new FsCache(conf)
      rows.foreach { r =>
        val src = new Path(r.getString(0))
        val dst = new Path(r.getString(1))
        val srcFs = cache.get(src)
        val dstFs = cache.get(dst)
        try {
          mkParent(dstFs, dst)
          // rename is only defined within one file system; cross-store
          // moves go straight to copy+delete (the reference's own shape)
          val sameStore = srcFs.getUri == dstFs.getUri
          val renamed = sameStore && srcFs.rename(src, dst)
          if (!renamed) {
            copyOne(srcFs, src, dstFs, dst, overwrite = false, conf.value)
            if (!srcFs.delete(src, false)) throw new java.io.IOException(
              s"copied, but could not delete the source $src")
          }
        } catch {
          case e: Exception => throw BlueprintError.MoveError(
            src.toString, dst.toString, e)
        }
      }
    }
  }

  /** The manifest's (`src_path`, `dest_path`) rows dealt round-robin
    * over the cluster's task slots: an RDD shuffle inside the transfer's
    * own job (a DataFrame `repartition` would plan an exchange that
    * adaptive execution runs as a job of its own). */
  private def spread(manifest: DataFrame): RDD[Row] =
    manifest.select("src_path", "dest_path").rdd.repartition(
      manifest.sparkSession.sparkContext.defaultParallelism)

  /** Delete every `path` row. */
  def deleteFiles(manifest: DataFrame): Unit = {
    val conf = serializableConf(manifest)
    manifest.select("path").foreachPartition { (rows: Iterator[Row]) =>
      val cache = new FsCache(conf)
      rows.foreach { r =>
        val p = new Path(r.getString(0))
        val fs = cache.get(p)
        val ok =
          try fs.delete(p, false)
          catch { case e: Exception =>
            throw BlueprintError.DeleteError(p.toString, e) }
        if (!ok) throw BlueprintError.DeleteError(
          p.toString, new java.io.FileNotFoundException(p.toString))
      }
    }
  }

  /** Catalog diff for incremental sync: files present in `src` but absent
    * from (or differently sized in) `dst`, by relative `name` — the
    * SURVEY.md §2.4 "source EXCEPT dest" primitive. A left-anti/outer
    * join on the two catalog scans: one shuffle keyed on name, no data
    * movement until the resulting manifest is executed. */
  def syncPlan(srcCatalog: DataFrame, dstCatalog: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = srcCatalog.select(col("path").as("src_path"), col("name"),
      col("size").as("src_size"))
    val d = dstCatalog.select(col("name"), col("size").as("dst_size"))
    s.join(d, Seq("name"), "left_outer")
      .filter(col("dst_size").isNull || col("dst_size") =!= col("src_size"))
      .select(col("src_path"), col("name"), col("src_size"),
        when(col("dst_size").isNull, lit("missing")).otherwise(lit("changed"))
          .as("reason"))
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files (ceil(total/target) output files).
    * The 100 TB maintenance primitive for streaming-ingest landing zones
    * (FileStreamSink and per-batch uploads accrete small files that
    * degrade scan parallelism and NameNode/listing pressure). Returns
    * (filesBefore, filesAfter); (0, 0) when there is nothing to compact.
    *
    * The swap is TWO renames (dir -> bak, tmp -> dir), not atomic:
    * readers racing the swap can see a missing directory for an instant,
    * so run compaction in the pipeline's maintenance window. Every
    * rename result is checked; on failure the original is rolled back
    * and the backup is never deleted until the new directory is in
    * place. A leftover backup from a crashed prior run aborts the
    * operation (manual recovery beats silently picking a side). */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(path)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (parts.isEmpty) return (0, 0)
    val bak = new Path(path.getParent, path.getName + "__compact_bak")
    if (fs.exists(bak)) throw new IllegalStateException(
      s"stale backup $bak from a previous compact run — recover it first")
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new Path(path.getParent, path.getName + "__compact_tmp")
    spark.read.parquet(dir).repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(path, bak)) throw new java.io.IOException(
      s"compact: could not move $path aside; directory untouched")
    if (!fs.rename(tmp, path)) {
      // roll the original back before failing — never leave dir missing
      fs.rename(bak, path)
      throw new java.io.IOException(
        s"compact: could not install $tmp; original restored")
    }
    fs.delete(bak, true)
    val after = fs.listStatus(path)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    (parts.length, after)
  }

  /** Distributed compaction PLAN over an arbitrary file catalog: assign
    * every file to a merge group of ~`targetBytes` by cumulative size in
    * path order ([[PrefixSum.packIntoBins]] — range partition, one
    * scan of the sorted partitions, a ≤numParts-value driver offset
    * sum). Where
    * [[compact]] physically rewrites ONE directory it can list on the
    * driver, this plans a whole-catalog maintenance pass: 10^8 catalog
    * rows stay distributed end to end, and each group is an independent
    * rewrite task. Oversized files get their own group(s); groups are
    * contiguous in path order so merged files stay range-readable. */
  def compactionPlan(catalog: DataFrame,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.functions.col
    PrefixSum.packIntoBins(
        catalog.select(col("path"), col("size")),
        weight = col("size"), budget = targetBytes,
        orderBy = Seq(col("path")), binCol = "group_id")
      .select(col("path"), col("size"), col("start_offset"),
        col("group_id"))
  }

  /** Copies one file, creating the destination's parent directories.
    * Without `overwrite` an existing destination raises
    * [[BlueprintError.DestinationExists]]; on a local destination the
    * exclusive create of `Files.copy` enforces that, with no separate
    * existence probe. */
  private def copyOne(srcFs: FileSystem, src: Path, dstFs: FileSystem,
      dst: Path, overwrite: Boolean, conf: Configuration): Unit =
    dstFs match {
      case local: LocalFileSystem =>
        val target = local.pathToFile(dst).toPath
        Files.createDirectories(target.getParent)
        val in = srcFs.open(src)
        try {
          if (overwrite)
            Files.copy(in, target, StandardCopyOption.REPLACE_EXISTING)
          else Files.copy(in, target)
        } catch {
          case _: FileAlreadyExistsException =>
            throw BlueprintError.DestinationExists(dst.toString)
        } finally in.close()
        // a sidecar left by an earlier Hadoop write of this name would
        // fail every checksummed read of the new bytes (Hadoop's own
        // checksum-less create deletes it too)
        Files.deleteIfExists(local.pathToFile(local.getChecksumFile(dst))
          .toPath)
      case _ =>
        if (!overwrite && dstFs.exists(dst))
          throw BlueprintError.DestinationExists(dst.toString)
        mkParent(dstFs, dst)
        FileUtil.copy(srcFs, src, dstFs, dst, false, overwrite, conf)
    }

  private def mkParent(fs: FileSystem, p: Path): Unit = {
    val parent = p.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
  }

  /** One `FileSystem` per (scheme, authority) per task. */
  private final class FsCache(conf: SerializableHadoopConf) {
    private val m = scala.collection.mutable.HashMap.empty[String, FileSystem]
    def get(p: Path): FileSystem = {
      val uri = p.toUri
      m.getOrElseUpdate(s"${uri.getScheme}://${uri.getAuthority}",
        p.getFileSystem(conf.value))
    }
  }

  private def serializableConf(df: DataFrame): SerializableHadoopConf =
    new SerializableHadoopConf(df.sparkSession.sparkContext.hadoopConfiguration)
}
