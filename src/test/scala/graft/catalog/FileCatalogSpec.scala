package graft.catalog

import graft.SparkSpec
import org.apache.hadoop.fs.Path

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `FileCatalog.list` against Hadoop's own recursive `listFiles` on a
  * tree with the entries a listing can get wrong, plus a source guard
  * that keeps `LocatedFileStatus` listings out of the engine. */
class FileCatalogSpec extends SparkSpec {

  private type Entry = (String, String, Long, Long)

  /** Written through Hadoop's local file system, so every data file gets
    * a real `.crc` sidecar; `_SUCCESS` and a dotfile are ordinary files
    * to both listings. */
  private lazy val (root, fs) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(specTempDir("catalog").toUri.toString)
    val fs = root.getFileSystem(conf)
    Seq("top.csv", "lo_top.csv", "lo1/a.csv", "lo1/mid/b.csv",
        "lo1/mid/deep/c.csv", "lo1/mid/deep/d.bin", "lo2/_SUCCESS",
        "lo2/.hidden", "hi/x.txt", "hi/y/z.txt").zipWithIndex
      .foreach { case (rel, i) =>
        val out = fs.create(new Path(root, rel))
        out.write(Array.fill[Byte](10 * i + 1)('x'.toByte))
        out.close()
      }
    fs.mkdirs(new Path(root, "lo1/empty"))
    (fs.makeQualified(root), fs)
  }

  /** Hadoop's recursive listing of the whole tree, named relative to
    * the root. */
  private def oracle: Set[Entry] = {
    val prefix = root.toString + "/"
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map { st =>
      val p = st.getPath.toString
      (p, p.stripPrefix(prefix), st.getLen, st.getModificationTime)
    }.toSet
  }

  private def catalog(prefix: String): Set[Entry] =
    FileCatalog.list(spark, root.toString, prefix).collect().map { r =>
      (r.getString(0), r.getString(1), r.getLong(2),
        r.getTimestamp(3).getTime)
    }.toSet

  test("the tree holds every awkward entry and Hadoop hides the sidecars") {
    val names = oracle.map(_._2)
    assert(names.size == 10)
    assert(Set("top.csv", "lo2/_SUCCESS", "lo2/.hidden",
      "lo1/mid/deep/c.csv").subsetOf(names))
    assert(!names.exists(_.endsWith(".crc")))
    assert(fs.exists(new Path(root, "lo1/.a.csv.crc")), "no real sidecar")
    assert(fs.listStatus(new Path(root, "lo1/empty")).isEmpty)
  }

  test("no prefix: the same entries as Hadoop's recursive listFiles") {
    assert(catalog("") == oracle)
  }

  test("prefix residual and directory prefix: the oracle's matching subset") {
    for (prefix <- Seq("lo", "lo1/m", "hi/", "nope", "nodir/x")) {
      val want = oracle.filter(_._2.startsWith(prefix))
      assert(catalog(prefix) == want, s"prefix '$prefix'")
    }
    assert(catalog("lo").size == 7)
  }

  test("one partition per listed subtree, plus one only when the scan " +
    "has top-level files") {
    // lo1/m: the single subdirectory `mid`, no top-level file
    assert(FileCatalog.list(spark, root.toString, "lo1/m").rdd
      .getNumPartitions == 1)
    // root: top.csv and lo_top.csv beside three subtrees
    assert(FileCatalog.list(spark, root.toString).rdd.getNumPartitions == 4)
  }

  test("at Spark's default of 200 partitions the driver lists one level") {
    // root: three subtrees, and top.csv and lo_top.csv cut into one-file
    // chunks; nothing below the first level is listed on the driver
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try {
      assert(FileCatalog.list(spark, root.toString).rdd.getNumPartitions == 5)
      assert(FileCatalog.list(spark, root.toString, "lo1/m").rdd
        .getNumPartitions == 1)
      assert(catalog("") == oracle)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("no main source lists through LocatedFileStatus") {
    // Hadoop's listFiles(path, recursive) and listLocatedStatus build a
    // LocatedFileStatus per file; java.io.File.listFiles() takes at most
    // one argument and stays allowed
    val banned =
      """\blistFiles\s*\((?:[^()]|\([^()]*\))*,|\blistLocatedStatus\s*\(""".r
    assert(banned.findFirstIn("fs.listFiles(p, true)").isDefined)
    assert(banned.findFirstIn("fs.listFiles(new Path(d), true)").isDefined)
    assert(banned.findFirstIn("fs.listLocatedStatus(p)").isDefined)
    assert(banned.findFirstIn("f.listFiles()").isEmpty)
    assert(banned.findFirstIn("f.listFiles(filter)").isEmpty)
    def comment(line: String) =
      Seq("*", "/*", "//").exists(line.trim.startsWith)
    val src = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val offenders = Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.filterNot(comment)
          .flatMap(banned.findFirstIn)
          .map(m => s"${src.relativize(p)}: $m")
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
