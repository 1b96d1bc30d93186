package graft

import graft.ops.{BlueprintError, ExactMatch, RegexMatch}
import org.apache.spark.CountJobs

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

  test("job floor: regex upload 4 jobs, dry run 3, delete 2") {
    // upload: the range exchange's sample + map stage, one ordinal
    // stats pass that also fills the enumerated manifest, the copy;
    // delete: the snapshot job (which counts) and the deletes
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val (up, upJobs) = CountJobs(Blueprints.upload(spark,
      src.toUri.toString, "in", RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "up", destinationFileName = Some("f.csv")))
    assert(up.matched == 2 && ls(dst) == Set("up/f_1.csv", "up/f_2.csv"))
    assert(upJobs == 4, s"upload ran $upJobs jobs")
    val (dry, dryJobs) = CountJobs(Blueprints.upload(spark,
      src.toUri.toString, "in", RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "dry", execute = false))
    assert(dry.matched == 2 && dryJobs == 3, s"dry run ran $dryJobs jobs")
    val (del, delJobs) = CountJobs(Blueprints.delete(spark,
      dst.toUri.toString, "up", RegexMatch("\\.csv$")))
    assert(del.matched == 2 && ls(dst).isEmpty)
    assert(delJobs == 2, s"delete ran $delJobs jobs")
  }
}
