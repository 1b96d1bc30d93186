package graft

import graft.ops.{BlueprintError, ExactMatch, RegexMatch, Transfer}
import org.apache.spark.ResultTaskReads
import org.apache.spark.graftx.CountJobs

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** End-to-end lifecycle tests of the four blueprints against `file://`
  * containers — the switch-over surface for a reference user
  * (SURVEY.md §3 lifecycles, including exit-code behavior).
  */
class BlueprintsSpec extends SparkSpec {

  private def mkSrc(): Path = {
    val root = specTempDir("bp-src")
    def w(rel: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, s"data:$rel")
    }
    Seq("in/a.csv", "in/b.csv", "in/deep/c.log", "other/d.csv").foreach(w)
    root
  }

  private def ls(root: Path): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet

  test("upload: regex multi-match with explicit dest name enumerates 1..n") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val r = Blueprints.upload(spark, src.toUri.toString, "in",
      RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "up", destinationFileName = Some("f.csv"))
    assert(r.matched == 2)
    assert(ls(dst) == Set("up/f_1.csv", "up/f_2.csv"))
  }

  test("upload: zero matches is a no-op, not an error (ref behavior)") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val r = Blueprints.upload(spark, src.toUri.toString, "in",
      RegexMatch("zzz"), dst.toUri.toString)
    assert(r.matched == 0 && ls(dst).isEmpty)
  }

  test("download: exact match addresses the file without listing") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val r = Blueprints.download(spark, src.toUri.toString, "in",
      ExactMatch("a.csv"), dst.toUri.toString)
    assert(r.matched == 1)
    assert(ls(dst) == Set("a.csv"))
    assert(Files.readString(dst.resolve("a.csv")) == "data:in/a.csv")
  }

  test("move: single match not numbered; source removed") {
    val c = mkSrc()
    Blueprints.move(spark, c.toUri.toString, "in", RegexMatch("a\\.csv"),
      destinationFolderName = "archive", destinationFileName = Some("kept.csv"))
    val now = ls(c)
    assert(now.contains("archive/kept.csv"))
    assert(!now.contains("in/a.csv"))
  }

  test("move: multi-match numbered; zero matches raises 200") {
    val c = mkSrc()
    Blueprints.move(spark, c.toUri.toString, "in", RegexMatch("\\.csv$"),
      destinationFolderName = "arch", destinationFileName = Some("m.csv"))
    val now = ls(c)
    assert(now.contains("arch/m_1.csv") && now.contains("arch/m_2.csv"))
    val e = intercept[BlueprintError.NoMatchesFound] {
      Blueprints.move(spark, c.toUri.toString, "in", RegexMatch("nope$"))
    }
    assert(e.exitCode == 200)
  }

  test("delete: regex match deletes; zero matches raises 200") {
    val c = mkSrc()
    val r = Blueprints.delete(spark, c.toUri.toString, "in",
      RegexMatch("\\.csv$"))
    assert(r.matched == 2)
    assert(!ls(c).exists(p => p.startsWith("in/") && p.endsWith(".csv")))
    intercept[BlueprintError.NoMatchesFound] {
      Blueprints.delete(spark, c.toUri.toString, "in", RegexMatch("\\.csv$"))
    }
  }

  test("delete: the report is the deleted set, nested matches included") {
    val c = specTempDir("bp-del")
    Seq("in/a.csv", "in/deep/b.csv", "in/deep/er/c.csv", "in/keep.log")
      .foreach { rel =>
        val p = c.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.writeString(p, rel)
      }
    val r = Blueprints.delete(spark, c.toUri.toString, "in",
      RegexMatch("\\.csv$"))
    assert(r.matched == 3)
    assert(ls(c) == Set("in/keep.log"))
    // read after the deletes: still the three deleted paths
    assert(r.manifest.count() == r.matched)
    val names = r.manifest.collect().map(_.getString(0).split('/').last)
    assert(names.toSet == Set("a.csv", "b.csv", "c.csv"))
  }

  test("manifest-only mode (execute=false) plans without side effects") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val r = Blueprints.upload(spark, src.toUri.toString, "in",
      RegexMatch("\\.csv$"), dst.toUri.toString, execute = false)
    assert(r.matched == 2 && ls(dst).isEmpty)
    assert(r.manifest.columns.toSeq == Seq("src_path", "dest_path"))
  }

  test("job floor: upload 2, dry run 1, download 2, move 2, delete 2") {
    // a regex upload, download or move: ONE job lists, numbers and
    // stores the manifest (the listing arrives in path order, so no
    // range shuffle), then the transfer; a dry run stops after the
    // first. Delete: the snapshot job (which counts) and the deletes
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val (up, upJobs) = CountJobs(Blueprints.upload(spark,
      src.toUri.toString, "in", RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "up", destinationFileName = Some("f.csv")))
    assert(up.matched == 2 && ls(dst) == Set("up/f_1.csv", "up/f_2.csv"))
    assert(upJobs == 2, s"upload ran $upJobs jobs")
    val (dry, dryJobs) = CountJobs(Blueprints.upload(spark,
      src.toUri.toString, "in", RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "dry", execute = false))
    assert(dry.matched == 2 && dryJobs == 1, s"dry run ran $dryJobs jobs")
    val local = specTempDir("bp-down")
    val (down, downJobs) = CountJobs(Blueprints.download(spark,
      dst.toUri.toString, "up", RegexMatch("\\.csv$"), local.toUri.toString,
      destinationFolderName = "got", destinationFileName = Some("g.csv")))
    assert(down.matched == 2 && ls(local) == Set("got/g_1.csv", "got/g_2.csv"))
    assert(downJobs == 2, s"download ran $downJobs jobs")
    val (mv, mvJobs) = CountJobs(Blueprints.move(spark, local.toUri.toString,
      "got", RegexMatch("\\.csv$"), destinationFolderName = "moved",
      destinationFileName = Some("m.csv")))
    assert(mv.matched == 2 && ls(local) == Set("moved/m_1.csv", "moved/m_2.csv"))
    assert(mvJobs == 2, s"move ran $mvJobs jobs")
    val (del, delJobs) = CountJobs(Blueprints.delete(spark,
      dst.toUri.toString, "up", RegexMatch("\\.csv$")))
    assert(del.matched == 2 && ls(dst).isEmpty)
    assert(delJobs == 2, s"delete ran $delJobs jobs")
  }

  test("a copy spreads over every task slot, however skewed the tree") {
    // six top-level files beside one directory of 60: the listing gives
    // `big` one partition of its own, and the copy must not inherit it
    val src = specTempDir("bp-skew")
    Files.createDirectories(src.resolve("in/big"))
    (0 until 6).foreach(i => Files.writeString(src.resolve(s"in/t$i.csv"), "t"))
    (0 until 60).foreach(i =>
      Files.writeString(src.resolve(f"in/big/b$i%02d.csv"), "b"))
    val dst = specTempDir("bp-skew-dst")
    val plan = Blueprints.upload(spark, src.toUri.toString, "in",
      RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "up", destinationFileName = Some("f.csv"),
      execute = false)
    assert(plan.manifest.rdd.getNumPartitions == 4)
    val (_, reads) = ResultTaskReads(Transfer.copyFiles(plan.manifest))
    assert(plan.matched == 66 && ls(dst).size == 66)
    // the copy's tasks read the dealt rows: 16 or 17 each, give or take
    // one per listing partition; unspread, one task would copy all of big
    val slots = spark.sparkContext.defaultParallelism
    assert(reads.size == slots && reads.sum == 66 && reads.max <= 21,
      reads.mkString(", "))
  }
}
