package graft.catalog

import graft.ops.PrefixSum
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftx.RangedRelation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.sql.Timestamp

/** Hadoop `Configuration` is not `Serializable`; ship it to executors via
  * its own writable form. (Equivalent of Spark's private
  * `SerializableConfiguration`.)
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** The engine's file-catalog relation (SURVEY.md §1.2): the namespace scan
  * the reference performs with `glob.glob` (local,
  * `upload_file.py:147-155`) or `ContainerClient.list_blobs(prefix=...)`
  * (remote, `download_file.py:144-151`), generalized to any Hadoop
  * `FileSystem` (file://, hdfs://, abfss://, s3a:// share the API) and
  * returned as a DataFrame with a fixed schema.
  *
  * Scale design: a 100 TB namespace has many millions of entries. The
  * driver lists only the first level under the root, then the per-subtree
  * recursive listing fans out across executors (`flatMap` over a
  * parallelized seq of subtrees) — the classic distributed-listing pattern,
  * so no single process walks the whole tree. Prefix pushdown mirrors the
  * reference: the prefix is part of the listed path, evaluated by the
  * storage service, never client-side.
  *
  * Each executor walks its subtree itself, one `listStatusIterator` per
  * directory ([[walk]]), and reads only path, length, modification time
  * and the directory bit. It does NOT use `FileSystem.listFiles(_, true)`:
  * the generic `listFiles` wraps every file in a `LocatedFileStatus`,
  * whose constructor reads permission, owner and group, and on `file://`
  * without libhadoop each of those is loaded by forking a shell command
  * per file (150 files in 3 levels, one thread on a 4-core Xeon VM:
  * 640-760 ms via `listFiles`, 5-14 ms via the walk, same rows; both
  * hide `.crc` sidecars). The one thing the walk gives up is S3A's flat
  * recursive listing (one paged LIST per subtree instead of one per
  * directory); there is one walk for every scheme.
  *
  * Order: partition i holds only paths below those of partition i + 1,
  * in Spark's `StringType` order. The driver sorts the first level, so
  * each listing unit (a subtree, or a chunk of top-level files) is one
  * contiguous range of paths, and one `parallelize` over the sorted
  * units keeps them in contiguous, ordered partitions. Rows within a
  * partition stay in listing order: [[walk]] streams each directory as
  * the store returns it. The frame states this range partitioning in
  * its plan (`RangedRelation.claim`), so [[graft.ops.PrefixSum]] numbers
  * it with an in-task sort and no range shuffle, and checks the claim
  * in the pass that numbers it. Spark's own operators trust the claim
  * unchecked: a later `orderBy("path")`, window or aggregate on a
  * listing plans no exchange for it.
  */
object FileCatalog {

  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("modificationTime", TimestampType, nullable = false)))

  /** List all FILES under `rootUri` (directories excluded — the reference
    * would crash `open()`ing a matched directory, `upload_file.py:183`; we
    * fix that deliberately, SURVEY.md §2.1 S1).
    *
    * @param prefix  server-side path prefix (S2 pushdown): only entries
    *                whose path relative to root starts with it are listed,
    *                by addressing the deepest whole directory of the prefix
    *                directly and filtering the remainder on the first level.
    */
  def list(
      spark: SparkSession,
      rootUri: String,
      prefix: String = "",
      recursive: Boolean = true): DataFrame = {
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val root = new Path(rootUri)
    val fs = root.getFileSystem(conf.value)
    val qualifiedRoot = fs.makeQualified(root)
    val rootStr = qualifiedRoot.toString

    // Prefix pushdown: descend into the directory part of the prefix.
    val slash = prefix.lastIndexOf('/')
    val (dirPart, residual) =
      if (slash >= 0) (prefix.substring(0, slash), prefix.substring(slash + 1))
      else ("", prefix)
    val scanRoot =
      if (dirPart.isEmpty) qualifiedRoot else new Path(qualifiedRoot, dirPart)

    // The driver lists one level, sorted (none when the scan root is
    // missing); subtrees fan out to executors. Runs of files are cut
    // into chunks that share the partitions the subtrees leave of
    // PrefixSum's n, so a flat prefix lists and numbers in parallel too.
    val firstLevel =
      if (fs.exists(scanRoot)) fs.listStatus(scanRoot) else Array.empty[FileStatus]
    val entries = byPath(firstLevel.filter { st =>
      (residual.isEmpty || st.getPath.getName.startsWith(residual)) &&
        (recursive || !st.isDirectory)
    })
    val n = PrefixSum.defaultParts(spark)
    val subtrees = entries.count(_.isDirectory)
    val share = math.max(n - subtrees, 1)
    val chunk = math.max(1, (entries.length - subtrees + share - 1) / share)
    val units = Vector.newBuilder[Either[String, Seq[Row]]]
    var run = Vector.empty[Row]
    def flush(): Unit = {
      run.grouped(chunk).foreach(c => units += Right(c))
      run = Vector.empty
    }
    entries.foreach { st =>
      if (st.isDirectory) { flush(); units += Left(st.getPath.toString) }
      else run :+= toRow(st, rootStr)
    }
    flush()
    val sorted = units.result()
    // one partition per unit, up to 64 (or n when larger); `parallelize`
    // slices contiguously, so partition i holds only paths below those
    // of partition i + 1
    val slices = math.max(1, math.min(sorted.size, math.max(n, 64)))
    val rows = spark.sparkContext.parallelize(sorted, slices).flatMap {
      case Right(files) => files
      case Left(d) =>
        val p = new Path(d)
        walk(p.getFileSystem(conf.value), p).map(toRow(_, rootStr))
    }
    RangedRelation.claim(spark.createDataFrame(rows, schema), "path")
  }

  /** Point lookup (F2 `exact_match` — no listing, `delete_file.py:134-139`). */
  def stat(spark: SparkSession, rootUri: String, relPath: String): DataFrame = {
    val root = new Path(rootUri)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(root, relPath)
    val rows =
      if (fs.exists(target)) {
        val st = fs.getFileStatus(target)
        Seq(Row(st.getPath.toString, relPath, st.getLen,
          new Timestamp(st.getModificationTime)))
      } else Seq.empty[Row]
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Every non-directory entry under `dir`, depth first and lazily: one
    * `listStatusIterator` per directory, opened when the walk reaches it. */
  private def walk(fs: FileSystem, dir: Path): Iterator[FileStatus] = {
    val it = fs.listStatusIterator(dir)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).flatMap {
      st => if (st.isDirectory) walk(fs, st.getPath) else Iterator.single(st)
    }
  }

  /** One directory's entries in the order Spark's `StringType` sorts
    * the paths below them: unsigned UTF-8 bytes, which `String.compareTo`
    * (UTF-16 units) contradicts above U+FFFF. A directory sorts by its
    * path plus "/", the prefix of every path it holds: `a-b/x` <
    * `a.txt` < `a/x`. */
  private def byPath(entries: Array[FileStatus]): Array[FileStatus] =
    entries.map { st =>
      val p = st.getPath.toString
      (UTF8String.fromString(if (st.isDirectory) p + "/" else p), st)
    }.sortWith((a, b) => a._1.compareTo(b._1) < 0).map(_._2)

  private def toRow(st: FileStatus, rootStr: String): Row = {
    val p = st.getPath.toString
    Row(p, relName(p, rootStr), st.getLen,
      new Timestamp(st.getModificationTime))
  }

  private def relName(path: String, rootStr: String): String = {
    val r = if (rootStr.endsWith("/")) rootStr else rootStr + "/"
    if (path.startsWith(r)) path.substring(r.length) else path
  }
}
