package graft.ops

import graft.SparkSpec
import graft.catalog.FileCatalog
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Integration tests for the transfer operators (S3-S6) against `file://`
  * temp dirs — same Hadoop `FileSystem` code path as abfss/s3a
  * (FIXTURES.md §1 layout).
  */
class TransferSpec extends SparkSpec {
  import spark.implicits._

  private def mkContainer(): Path = {
    val root = specTempDir("graft-container")
    def w(rel: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, s"content of $rel")
    }
    Seq("data.csv", "report.tar.gz", "noext", "logs/2024/app.log",
      "logs/2024/app.log.1", "dupe/data.csv").foreach(w)
    root
  }

  private def listAll(root: Path): Set[String] =
    Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet

  private def pairs(ps: (Path, Path)*) =
    ps.map { case (a, b) => (a.toUri.toString, b.toUri.toString) }
      .toDF("src_path", "dest_path")

  private def causedBy[E <: Throwable](e: Throwable)(
      implicit tag: scala.reflect.ClassTag[E]): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(tag.runtimeClass.isInstance)

  /** A `viewfs://` store whose `/m` mount is `dir`: same disk, but a
    * different file-system URI than `file:///`, so a move into or out
    * of it is cross-store (copy + delete, no rename). */
  private def viewStore(dir: Path): String = {
    val name = s"xfer${System.nanoTime()}"
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.viewfs.mounttable.$name.link./m", dir.toUri.toString)
    s"viewfs://$name/m/"
  }

  test("a copy into file:// leaves checksums on for the JVM's shared " +
    "local file system") {
    val src = mkContainer()
    val dst = specTempDir("graft-dst")
    Transfer.copyFiles(pairs(src.resolve("data.csv") -> dst.resolve(
      "c/data.csv")))
    assert(Files.readString(dst.resolve("c/data.csv")) ==
      "content of data.csv")
    assert(!Files.exists(dst.resolve("c/.data.csv.crc")),
      "a transferred copy carries no sidecar")
    val later = new HPath(dst.resolve("later.txt").toUri)
    val fs = FileSystem.get(later.toUri, spark.sparkContext.hadoopConfiguration)
    val out = fs.create(later)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    assert(Files.exists(dst.resolve(".later.txt.crc")),
      "a later Hadoop write in the same JVM lost its .crc sidecar")
  }

  test("copy: overwrite = false refuses an existing destination, " +
    "overwrite = true replaces its bytes") {
    val src = mkContainer()
    val dst = specTempDir("graft-dst")
    val target = dst.resolve("d/data.csv")
    // the old bytes come from a checksummed Hadoop write (with sidecar)
    val hTarget = new HPath(target.toUri)
    val fs = FileSystem.get(hTarget.toUri, spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hTarget)
    out.write("old bytes, longer than the new ones".getBytes("UTF-8"))
    out.close()
    assert(Files.exists(dst.resolve("d/.data.csv.crc")))
    val e = intercept[SparkException] {
      Transfer.copyFiles(pairs(src.resolve("data.csv") -> target))
    }
    assert(causedBy[BlueprintError.DestinationExists](e), e.toString)
    assert(Files.readString(target) == "old bytes, longer than the new ones")
    Transfer.copyFiles(pairs(src.resolve("data.csv") -> target),
      overwrite = true)
    assert(Files.readString(target) == "content of data.csv")
    // a checksummed read agrees: no stale sidecar was left behind
    val in = fs.open(hTarget)
    try assert(new String(in.readAllBytes(), "UTF-8") == "content of data.csv")
    finally in.close()
  }

  test("cross-store move: copy + delete, source gone, both directions") {
    val root = mkContainer()
    val other = specTempDir("graft-other")
    val view = viewStore(other)
    // file:// -> viewfs:// (the destination is not a local FS)
    Transfer.moveFiles(Seq((root.resolve("data.csv").toUri.toString,
      view + "in/data.csv")).toDF("src_path", "dest_path"))
    assert(!Files.exists(root.resolve("data.csv")))
    assert(Files.readString(other.resolve("in/data.csv")) ==
      "content of data.csv")
    // viewfs:// -> file:// (a local destination)
    Transfer.moveFiles(Seq((view + "in/data.csv",
      root.resolve("back/data.csv").toUri.toString))
      .toDF("src_path", "dest_path"))
    assert(!Files.exists(other.resolve("in/data.csv")))
    assert(Files.readString(root.resolve("back/data.csv")) ==
      "content of data.csv")
  }

  test("S1+F1: catalog scan + regex filter matches reference glob+re.search") {
    val root = mkContainer()
    val cat = FileCatalog.list(spark, root.toUri.toString)
    assert(cat.count() == 6)
    val logs = cat.filter(RegexMatch("app\\.log").predicate(col("name")))
      .select("name").as[String].collect().toSet
    assert(logs == Set("logs/2024/app.log", "logs/2024/app.log.1"))
  }

  test("S2: prefix pushdown lists only the prefix subtree") {
    val root = mkContainer()
    val cat = FileCatalog.list(spark, root.toUri.toString, prefix = "logs/")
    assert(cat.select("name").as[String].collect().toSet ==
      Set("logs/2024/app.log", "logs/2024/app.log.1"))
  }

  test("F2: stat point lookup") {
    val root = mkContainer()
    assert(FileCatalog.stat(spark, root.toUri.toString, "data.csv").count() == 1)
    assert(FileCatalog.stat(spark, root.toUri.toString, "nope.csv").count() == 0)
  }

  test("S4 upload round-trip with enumerated rename, no overwrite") {
    val src = mkContainer()
    val dst = specTempDir("graft-dst")
    val cat = FileCatalog.list(spark, src.toUri.toString)
      .filter(RegexMatch("data\\.csv").predicate(col("name")))
    val manifest = RenamePlan.planify(
        cat, destFolder = "up", destName = Some("d.csv"),
        numbering = RenamePlan.Numbering.Always)
      .withColumn("src_path", col("path"))
      .withColumn("dest_path",
        concat(lit(dst.toUri.toString), col("dest_path")))
    Transfer.copyFiles(manifest)
    assert(listAll(dst) == Set("up/d_1.csv", "up/d_2.csv"))
    // second upload to same destinations must refuse (ResourceExistsError)
    val e = intercept[SparkException] { Transfer.copyFiles(manifest) }
    assert(e.getCause.isInstanceOf[BlueprintError.DestinationExists] ||
      e.getMessage.contains("already exists"))
  }

  test("S5 move: rename semantics, source gone, dest present") {
    val root = mkContainer()
    val cat = FileCatalog.list(spark, root.toUri.toString, prefix = "logs/")
    val manifest = cat
      .withColumn("src_path", col("path"))
      .withColumn("dest_path",
        concat(lit(root.toUri.toString), lit("moved/"),
          element_at(split(col("name"), "/"), -1)))
    Transfer.moveFiles(manifest)
    val now = listAll(root)
    assert(now.contains("moved/app.log") && now.contains("moved/app.log.1"))
    assert(!now.exists(_.startsWith("logs/")))
  }

  test("S6 delete: files removed; missing file raises DeleteError") {
    val root = mkContainer()
    val cat = FileCatalog.list(spark, root.toUri.toString)
      .filter(RegexMatch("^dupe/").predicate(col("name")))
    Transfer.deleteFiles(cat)
    assert(!listAll(root).exists(_.startsWith("dupe/")))
    val ghost = Seq(root.resolve("ghost.csv").toUri.toString).toDF("path")
    val e = intercept[SparkException] { Transfer.deleteFiles(ghost) }
    assert(e.getCause.isInstanceOf[BlueprintError.DeleteError] ||
      e.getMessage.contains("Delete failed"))
  }

  test("zero-match gate raises NoMatchesFound (exit code 200)") {
    val root = mkContainer()
    val cat = FileCatalog.list(spark, root.toUri.toString)
      .filter(RegexMatch("zzz-nothing").predicate(col("name")))
    val err = intercept[BlueprintError.NoMatchesFound] {
      if (cat.isEmpty) throw BlueprintError.NoMatchesFound("zzz-nothing")
    }
    assert(err.exitCode == 200)
  }

  test("compactionPlan: empty catalog plans zero groups") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("path", "size")
    assert(Transfer.compactionPlan(empty, 100L).count() == 0)
  }

  test("compactionPlan: contiguous size-bounded merge groups") {
    import spark.implicits._
    // 1 oversized file + many small ones, shuffled input order
    val files = (1 to 40).map(i => (f"dir/part-$i%03d", 30L)) :+
      ("dir/part-900-huge", 450L)
    val cat = scala.util.Random.shuffle(files).toDF("path", "size")
      .repartition(5)
    val plan = Transfer.compactionPlan(cat, targetBytes = 100L)
      .orderBy("path").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // groups are contiguous in path order
    val groups = plan.map(_._3)
    assert(groups.sameElements(groups.sorted), groups.mkString(","))
    // every group of small files stays within budget; the oversized
    // file sits in its own group(s)
    val bySize = plan.groupBy(_._3).values
    for (g <- bySize if g.forall(_._2 < 100L))
      assert(g.map(_._2).sum <= 100L + 30L, g.mkString(","))
    val hugeGroup = plan.find(_._1.endsWith("huge")).get._3
    assert(plan.count(_._3 == hugeGroup) == 1,
      "an oversized file must not share its group")
    // deterministic under any partitioning
    val again = Transfer.compactionPlan(cat.repartition(2), 100L)
      .orderBy("path").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(plan.sameElements(again))
  }
}
