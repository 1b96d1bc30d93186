package graft.ops

import graft.SparkSpec
import org.apache.spark.WithCheckpointDir
import org.apache.spark.graftx.CountJobs
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.RangedRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  test("running total equals the single-partition window cumsum") {
    val rnd = new scala.util.Random(13)
    val df = (1 to 400).map(i => (i, 1L + rnd.nextInt(500)))
      .toDF("k", "w")
    val want = df.withColumn("run",
        sum(col("w")).over(Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "run").as[(Int, Long)].collect().toMap
    val got = PrefixSum.withRunningTotal(df, "run", col("w"), Seq(col("k")))
      .select("k", "run").as[(Int, Long)].collect().toMap
    assert(got == want)
  }

  test("running total is independent of input partitioning") {
    val df = (1 to 300).map(i => (i, (i * 7 % 23).toLong + 1L)).toDF("k", "w")
    val a = PrefixSum.withRunningTotal(df, "run", col("w"), Seq(col("k")))
      .select("k", "run").as[(Int, Long)].collect().toMap
    val b = PrefixSum.withRunningTotal(df.repartition(11), "run", col("w"),
        Seq(col("k")), numParts = 3)
      .select("k", "run").as[(Int, Long)].collect().toMap
    assert(a == b)
  }

  test("no single-partition WindowExec in the plan") {
    val df = (1 to 50).map(i => (i, i.toLong)).toDF("k", "w")
    val plan = PrefixSum.withRunningTotal(df, "run", col("w"), Seq(col("k")))
      .queryExecution.executedPlan.toString
    // a global-order window would appear as Window ... with an empty
    // partition spec; ours must always partition by the pid column
    assert(!plan.contains("Window [") ||
      !plan.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"found a global (unpartitioned) window:\n$plan")
  }

  test("packIntoBins: contiguous bins, budget respected at start offsets") {
    val df = (1 to 100).map(i => (i.toLong, 100L + (i % 7) * 50L))
      .toDF("doc_id", "n_tokens")
    val packed = PrefixSum.packIntoBins(df, col("n_tokens"), budget = 1000L,
        orderBy = Seq(col("doc_id")))
      .select("doc_id", "n_tokens", "start_offset", "bin")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // start offsets are the exclusive cumsum in doc_id order
    var run = 0L
    packed.foreach { case (_, w, start, bin) =>
      assert(start == run, s"start $start != running $run")
      assert(bin == start / 1000L)
      run += w
    }
    // bins are non-decreasing and dense enough (no empty bins skipped
    // beyond what long docs straddle)
    val bins = packed.map(_._4)
    assert(bins.sliding(2).forall(p => p(0) <= p(1)))
  }

  test("grouped running total equals the per-group window cumsum; " +
    "only __pid-keyed windows plan") {
    val rnd = new scala.util.Random(13)
    // 3 groups, heavy skew: group g0 holds ~90% of the rows
    val df = (1 to 800).map { i =>
      val g = if (rnd.nextInt(10) < 9) "g0" else s"g${1 + rnd.nextInt(2)}"
      (g, i, rnd.nextInt(50).toLong + 1L)
    }.toDF("g", "k", "w")
    val want = df.withColumn("run", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("k"))
          .rowsBetween(org.apache.spark.sql.expressions
            .Window.unboundedPreceding, 0)))
      .select("k", "run").as[(Int, Long)].collect().toMap
    val out = PrefixSum.withGroupedRunningTotal(df, "run", Seq("g"),
      col("w"), Seq(col("k")), numParts = 8)
    val got = out.select("k", "run").as[(Int, Long)].collect().toMap
    assert(got == want)
    val wide = out.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Window [") && !l.contains("__pid"))
      .toList
    assert(wide.isEmpty, s"non-__pid window planned:\n${wide.mkString}")
  }

  test("grouped bins restart at zero per group and respect budget") {
    val df = Seq(("a", 1, 600L), ("a", 2, 600L), ("a", 3, 600L),
      ("b", 1, 100L), ("b", 2, 2000L), ("b", 3, 5L))
      .toDF("g", "k", "w")
    val got = PrefixSum.packIntoBins(df, col("w"),
        budget = 1000L, orderBy = Seq(col("k")), groupCols = Seq("g"))
      .select("g", "k", "start_offset", "bin")
      .as[(String, Int, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(got == Map(
      ("a", 1) -> (0L, 0L), ("a", 2) -> (600L, 0L),
      ("a", 3) -> (1200L, 1L),
      ("b", 1) -> (0L, 0L), ("b", 2) -> (100L, 0L),
      ("b", 3) -> (2100L, 2L)))
  }

  test("withRunningTotal over a shuffle-free input: three jobs (range " +
    "sample, map stage, one stats pass over the stored partitions)") {
    val df = spark.range(0, 2000, 1, 5).toDF("id")
      .withColumn("k", pmod(col("id") * 7919L, lit(1009)))
      .withColumn("w", pmod(col("id"), lit(13)))
    val (out, jobs) = CountJobs(PrefixSum.withRunningTotal(df, "run",
      col("w"), Seq(col("k"), col("id")), numParts = 6))
    assert(jobs == 3, s"$jobs jobs")
    val want = df.withColumn("run", sum(col("w")).over(
        Window.orderBy(col("k"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "run").as[(Long, Long)].collect().toMap
    assert(out.select("id", "run").as[(Long, Long)].collect().toMap == want)
  }

  test("runningTotal returns the grand total; the output plans no " +
    "Exchange and no Window above the checkpoint leaf") {
    val df = (1 to 300).map(i => (i, (i % 17).toLong)).toDF("k", "w")
    val (out, total) = PrefixSum.runningTotal(df, "run", col("w"),
      Seq(col("k")), numParts = 4)
    assert(total == (1 to 300).map(_ % 17).sum.toLong)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan)
  }

  test("an input already range-partitioned on the key: ONE job before " +
    "the first action, and no Exchange planned") {
    // a frame whose plan states range partitioning on `k`, as a
    // FileCatalog listing states it on `path`; `parallelize` slices the
    // 500 keys into 4 runs of 125, each reversed, so only the in-task
    // sort puts a partition in order
    val keys = (0 until 500).map(i => f"k$i%04d")
    val df = RangedRelation.claim(spark.createDataFrame(
        spark.sparkContext.parallelize(
          keys.grouped(125).flatMap(_.reverse).map(Row(_)).toSeq, 4),
        StructType(Seq(StructField("k", StringType)))), "k")
    val ((out, n), jobs) = CountJobs(
      PrefixSum.withOrdinalCounted(df, "ord", Seq(col("k"))))
    // a range exchange costs a sample job and a map-stage job of its own
    assert(jobs == 1 && n == 500, s"$jobs jobs, $n rows")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(out.rdd.getNumPartitions == 4)
    assert(out.select("k", "ord").as[(String, Long)].collect().toMap ==
      keys.zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap)
  }

  /** 600 rows over few distinct keys: `k` = (s, n), a string field with
    * nulls and an int field with nulls, in `parts` input partitions. */
  private def dupKeys(parts: Int) =
    spark.range(0, 600, 1, parts).toDF("id")
      .withColumn("k", struct(
        when(col("id") % 9 =!= 4, concat(lit("s"), (col("id") % 6).cast("string")))
          .as("s"),
        when(col("id") % 5 =!= 0, (col("id") % 4).cast("int")).as("n")))

  /** `body` with `n` range partitions: the scan's [[PrefixSum.defaultParts]]
    * reads spark.sql.shuffle.partitions. */
  private def withShuffleParts[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("dense rank equals the dense_rank() window, with the distinct and " +
    "row counts, over 1, 3 and 7 input partitions and 1 or 5 range " +
    "partitions") {
    val want = dupKeys(1)
      .withColumn("r", dense_rank().over(Window.orderBy(col("k"))).cast("long"))
      .select("id", "r").as[(Long, Long)].collect().toMap
    val keys = want.values.toSet.size.toLong
    assert(keys == dupKeys(1).select("k").distinct().count() && keys > 10)
    for (parts <- Seq(1, 3, 7); numParts <- Seq(1, 5)) {
      val (out, distinct, rows) = withShuffleParts(numParts)(
        PrefixSum.withDenseRankCounted(dupKeys(parts), "r", Seq(col("k"))))
      assert(distinct == keys && rows == 600L, s"$parts/$numParts")
      assert(out.select("id", "r").as[(Long, Long)].collect().toMap == want,
        s"$parts input partitions, $numParts range partitions")
      PrefixSum.release(out)
    }
  }

  test("dense rank over a shuffle-free input: three jobs, as " +
    "withRunningTotal; release frees the scan's checkpoint") {
    val ((out, _, _), jobs) = withShuffleParts(6)(CountJobs(
      PrefixSum.withDenseRankCounted(dupKeys(5), "r", Seq(col("k")))))
    assert(jobs == 3, s"$jobs jobs")
    assert(out.rdd.getNumPartitions == 6)
    def leaf(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => leaf(child)
      case other => other
    }
    val id = leaf(out.queryExecution.analyzed).asInstanceOf[LogicalRDD].rdd.id
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert(stored.contains(id), "the stats pass fills the checkpoint")
    intercept[IllegalArgumentException](Materialize.release(out))
    PrefixSum.release(out)
    assert(!stored.contains(id))
  }

  test("dense rank refuses a ranged input whose key straddles two " +
    "partitions") {
    // a false claim that puts key "b" at the end of partition 0 and the
    // start of partition 1: ordered, but one key in two partitions
    val df = RangedRelation.claim(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq("a", "b", "b", "c").map(Row(_)), 2),
        StructType(Seq(StructField("k", StringType)))), "k")
    val err = intercept[IllegalArgumentException](
      PrefixSum.withDenseRankCounted(df, "r", Seq(col("k"))))
    assert(err.getMessage.contains("straddles partitions 0 and 1"),
      err.getMessage)
  }

  test("reliable checkpoint path: same running totals, files written") {
    val dir = specTempDir("prefix-ckpt").toString
    try {
      val df = (1 to 200).map(i => (i * 7 % 1000, i.toLong)).toDF("k", "w")
      val plain = PrefixSum.withRunningTotal(df, "run", col("w"),
          Seq(col("k"), col("w")))
        .select("w", "run").as[(Long, Long)].collect().toMap
      val reliable = WithCheckpointDir(dir) {
        PrefixSum.withRunningTotal(df, "run", col("w"),
            Seq(col("k"), col("w")))
          .select("w", "run").as[(Long, Long)].collect().toMap
      }
      assert(reliable == plain)
      val wrote = Files.walk(Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint dirs under $dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("only PrefixSum scans by partition offsets: no other main " +
    "source calls spark_partition_id") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val owner = root.resolve(Paths.get("graft", "ops", "PrefixSum.scala"))
    assert(Files.isRegularFile(owner), s"$owner missing")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("spark_partition_id("))
      .map(root.relativize(_).toString).toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
