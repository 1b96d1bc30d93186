package graft.ops

import graft.SparkSpec
import org.apache.spark.WithCheckpointDir
import org.apache.spark.graftx.CountJobs
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class MaterializeSpec extends SparkSpec {

  private def cachedRdds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def checkpointRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  test("release frees the blocks that Dataset.unpersist leaves resident") {
    val m = Materialize(spark.range(0, 200000).toDF("id"), eager = true)
    val id = checkpointRdd(m).id
    assert(cachedRdds.contains(id), "eager local checkpoint stores blocks")
    m.unpersist(blocking = true)
    assert(cachedRdds.contains(id),
      "Dataset.unpersist does not reach the checkpoint's RDD")
    Materialize.release(m)
    assert(!cachedRdds.contains(id))
    intercept[IllegalArgumentException](
      Materialize.release(spark.range(3).toDF("id")))
    // a projection reads the checkpoint but is not it: refused
    intercept[IllegalArgumentException](
      Materialize.release(m.select((col("id") + 1).as("next"))))
  }

  test("a checkpoint dir selects reliable checkpoint files") {
    val local = Materialize(spark.range(0, 1000).toDF("id"), eager = true)
    assert(!Materialize.faultTolerant(spark))
    assert(checkpointRdd(local).getCheckpointFile.isEmpty)
    Materialize.release(local)
    val dir = specTempDir("materialize-ckpt").toString
    WithCheckpointDir(dir) {
      assert(Materialize.faultTolerant(spark))
      val m = Materialize(spark.range(0, 1000).toDF("id"), eager = true)
      assert(m.count() == 1000L)
      assert(checkpointRdd(m).getCheckpointFile.isDefined)
      val wrote = Files.walk(Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint dirs under $dir")
    }
    assert(!Materialize.faultTolerant(spark), "previous dir restored")
  }

  test("counted: the exact row count from the one job that fills the " +
    "checkpoint, local and reliable") {
    // a shuffle under AQE: its map stage is a job of its own, so the
    // input is cut first and the checkpoint's own job is what counts
    val src = Materialize(spark.range(0, 5000, 1, 6).toDF("id")
      .groupBy((col("id") % 997).as("k"))
      .count(), eager = true)
    val ((local, n), jobs) = CountJobs(Materialize.counted(src))
    assert(n == 997L && jobs == 1, s"count $n in $jobs jobs")
    assert(checkpointRdd(local).getCheckpointFile.isEmpty)
    assert(local.count() == n)
    val (empty, emptyJobs) =
      CountJobs(Materialize.counted(spark.range(0).toDF("id")))
    assert(empty._2 == 0L && emptyJobs <= 1)
    val dir = specTempDir("materialize-counted").toString
    WithCheckpointDir(dir) {
      val ((reliable, m), rjobs) = CountJobs(Materialize.counted(src))
      assert(m == 997L && rjobs == 1, s"count $m in $rjobs jobs")
      assert(checkpointRdd(reliable).getCheckpointFile.isDefined)
      assert(reliable.count() == 997L)
    }
    Seq(src, local, empty._1).foreach(Materialize.release)
  }

  test("only Materialize checkpoints: no other main source calls the " +
    "checkpoint API") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val owner = root.resolve(Paths.get("graft", "ops", "Materialize.scala"))
    assert(Files.isRegularFile(owner), s"$owner missing")
    val banned = Seq(".localCheckpoint(", ".checkpoint(", "setCheckpointDir")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        banned.filter(text.contains).map(b => s"${root.relativize(p)}: $b")
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
