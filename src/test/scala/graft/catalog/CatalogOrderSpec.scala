package graft.catalog

import graft.{Blueprints, SparkSpec}
import graft.ops.{PrefixSum, RegexMatch}
import org.apache.spark.graftx.CountJobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.RangedRelation

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `FileCatalog.list` range-partitions its rows on `path` and says so
  * in its plan, so `PrefixSum` numbers a listing without a range
  * shuffle. These specs check the partitions and the ordinals against
  * Spark's own `row_number()` on a tree built to break naive orders,
  * that a frame without the claim still shuffles, that a false claim
  * fails, and that the listing keeps a flat prefix parallel. */
class CatalogOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Names where naive orders disagree with Spark's string order:
    *  - `a-b/…` < `a.txt` < `a/…` ('-' < '.' < '/'): a directory sorts
    *    by its name plus "/", not by its name;
    *  - U+FF5A (`ｚ`) < U+1F600 (😀) in UTF-8 bytes, while UTF-16
    *    `String.compareTo` puts the surrogate pair first; at the top
    *    level `ｚ.txt` and the directory `😀` are separate listing units,
    *    so a driver sorting by `compareTo` puts them in the wrong
    *    partitions;
    *  - spaces and Latin-1 letters, in file and directory names;
    *  - top-level files between subtrees (`a.txt`, `b.txt`, `é.txt`). */
  private val fixture = Seq(
    "a-b/x.txt", "a-b/y/z.txt", "a.txt", "a/0.txt", "a/a b.txt",
    "a/é.txt", "b.txt", "c/a", "c/a-b/q.txt", "c/a.txt",
    "c/ｚ.txt", "c/😀.txt", "c/😀/d.txt",
    "sp ace/n.txt", "é.txt", "é/deep/f.txt", "ｚ.txt",
    "😀.txt", "😀/e.txt")

  private lazy val root: String = {
    val dir = specTempDir("catalog-order")
    fixture.foreach { rel =>
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, rel)
    }
    dir.toUri.toString
  }

  private def list(prefix: String, recursive: Boolean = true): DataFrame =
    FileCatalog.list(spark, root, prefix, recursive)

  test("the fixture's names round-trip through the file system") {
    // a JVM whose file-name encoding is not UTF-8 lists the non-ASCII
    // names as '?', which would void the order specs below
    assert(list("").select("name").as[String].collect().toSet ==
      fixture.toSet)
  }

  test("listing partitions and PrefixSum ordinals follow row_number() " +
    "OVER (ORDER BY path), with and without a prefix, and non-recursive") {
    // "nodir/": a missing scan root lists nothing, through the same path
    for ((prefix, recursive, size) <- Seq(("", true, 19), ("a", true, 6),
        ("c/a", true, 3), ("", false, 5), ("c/", false, 4),
        ("nodir/", true, 0))) {
      val what = s"prefix '$prefix', recursive = $recursive"
      val cat = list(prefix, recursive)
      val want = cat.withColumn("ord", row_number().over(Window.orderBy("path")))
        .select("path", "ord").as[(String, Long)].collect().sortBy(_._2)
      assert(want.length == size, what)
      // partition by partition, sorted within each: the global order
      assert(cat.sortWithinPartitions("path").select("path").as[String]
        .collect().toSeq == want.map(_._1).toSeq, s"$what: partitions")
      val (numbered, jobs) = CountJobs(
        PrefixSum.withOrdinal(cat, "ord", Seq(col("path"))))
      assert(jobs == 1, s"$what: $jobs jobs, expected the ranged scan")
      assert(numbered.select("path", "ord").as[(String, Long)].collect()
        .sortBy(_._2).toSeq == want.toSeq, s"$what: ordinals")
    }
  }

  test("a union of listings carries no claim: it is range-shuffled and " +
    "numbered correctly") {
    // Spark 4.1's Union propagates no range partitioning; concatenated
    // in this order the rows are not sorted, so a short path taken here
    // would fail the order check
    val cat = list("c/").union(list("a"))
    val want = cat.withColumn("ord", row_number().over(Window.orderBy("path")))
      .select("path", "ord").as[(String, Long)].collect().toMap
    val (numbered, jobs) = CountJobs(
      PrefixSum.withOrdinal(cat, "ord", Seq(col("path"))))
    assert(jobs == 3, s"$jobs jobs: range sample, map stage, stats pass")
    assert(numbered.select("path", "ord").as[(String, Long)].collect().toMap
      == want)
  }

  test("a false range claim fails the stats pass, naming the partition") {
    def claimed(parts: Seq[Seq[String]]): DataFrame = {
      val rows = spark.sparkContext.parallelize(parts, parts.size)
        .flatMap(_.map(p => Row(p, p, 1L, new java.sql.Timestamp(0L))))
      RangedRelation.claim(
        spark.createDataFrame(rows, FileCatalog.schema), "path")
    }
    def failure(parts: Seq[Seq[String]]): String = intercept[Exception] {
      PrefixSum.withOrdinal(claimed(parts), "ord", Seq(col("path")))
    }.getMessage
    def numbered(parts: Seq[Seq[String]]): Map[String, Long] =
      PrefixSum.withOrdinal(claimed(parts), "ord", Seq(col("path")))
        .select("path", "ord").as[(String, Long)].collect().toMap
    // partition 2 holds "b1", below partition 1's "d"
    val across = failure(Seq(Seq("a", "b"), Seq("d", "c"), Seq("b1", "e")))
    assert(across.contains("partition 2 breaks it"), across)
    // the claim is on ranges only: rows out of order inside a partition
    // are sorted there, and a true claim with an empty partition between
    // two others numbers too
    assert(numbered(Seq(Seq("b", "a"), Seq("e", "c", "d"))) ==
      Map("a" -> 1L, "b" -> 2L, "c" -> 3L, "d" -> 4L, "e" -> 5L))
    assert(numbered(Seq(Seq("a", "b"), Nil, Seq("c"))) ==
      Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("only FileCatalog claims a range: no other main source uses " +
    "RangedRelation") {
    val src = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val allowed = Set(
      src.resolve(Paths.get("graft", "catalog", "FileCatalog.scala")),
      src.resolve(Paths.get("org", "apache", "spark", "sql", "graftx",
        "RangedRelation.scala")))
    allowed.foreach(p => assert(Files.isRegularFile(p), s"$p missing"))
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("RangedRelation"))
      .map(src.relativize(_).toString).toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("a flat 1,000-file prefix lists into at least n partitions and " +
    "uploads in 2 jobs") {
    val src = specTempDir("catalog-flat")
    Files.createDirectories(src.resolve("flat"))
    (0 until 1000).foreach(i =>
      Files.writeString(src.resolve(f"flat/f$i%04d.csv"), i.toString))
    val n = PrefixSum.defaultParts(spark)
    val parts = FileCatalog.list(spark, src.toUri.toString, "flat/")
      .rdd.getNumPartitions
    assert(parts >= n, s"$parts partitions, n = $n")
    val dst = specTempDir("catalog-flat-dst")
    val (r, jobs) = CountJobs(Blueprints.upload(spark, src.toUri.toString,
      "flat", RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "up", destinationFileName = Some("g.csv")))
    assert(r.matched == 1000 && jobs == 2, s"${r.matched} files, $jobs jobs")
    assert(r.manifest.rdd.getNumPartitions >= n)
    // numbered in path order: f0000.csv is 1, f0999.csv is 1000
    assert(new String(Files.readAllBytes(dst.resolve("up/g_1000.csv"))) ==
      "999")
    assert(Files.list(dst.resolve("up")).count() == 1000)
  }
}
