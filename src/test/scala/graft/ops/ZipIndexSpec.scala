package graft.ops

import graft.SparkSpec
import org.apache.spark.WithCheckpointDir
import org.apache.spark.graftx.CountJobs
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ordinal entry points of [[PrefixSum]] — its running total with
  * weight 1 — and the ntile replay over their ranks. */
class ZipIndexSpec extends SparkSpec {
  import spark.implicits._

  test("ordinals equal the single-partition window row_number") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 500).map(_ => (rnd.nextInt(100000), rnd.nextString(4)))
      .distinct.toDF("k", "s")
    val want = df.withColumn("ord",
        row_number().over(Window.orderBy(col("k"), col("s"))).cast("long"))
      .select("k", "ord").as[(Int, Long)].collect().toMap
    val got = PrefixSum.withOrdinal(df, "ord", Seq(col("k"), col("s")))
      .select("k", "ord").as[(Int, Long)].collect().toMap
    assert(got == want)
  }

  private def rowNumbers(df: org.apache.spark.sql.DataFrame,
      key: String, order: Seq[String]): Map[Any, Long] =
    df.withColumn("ord",
        row_number().over(Window.orderBy(order.map(col): _*)).cast("long"))
      .select(key, "ord").collect().map(r => r.get(0) -> r.getLong(1)).toMap

  test("withOrdinalCounted over a shuffle-free input: three jobs " +
    "(range sample, map stage, one stats pass over the stored " +
    "partitions)") {
    val df = spark.range(0, 2000, 1, 5).toDF("id")
      .withColumn("k", pmod(col("id") * 7919L, lit(1009)))
    val ((out, n), jobs) = CountJobs(
      PrefixSum.withOrdinalCounted(df, "ord", Seq(col("k"), col("id")), 6))
    assert(n == 2000L)
    assert(jobs == 3, s"$jobs jobs")
    val got = out.select("id", "ord").collect()
      .map(r => (r.getLong(0): Any) -> r.getLong(1)).toMap
    assert(got == rowNumbers(df, "id", Seq("k", "id")))
  }

  test("fewer range partitions than requested: all sort keys equal, " +
    "and fewer rows than numParts") {
    // one distinct key: the range partitioner collapses to ONE
    // partition; any order of the tied rows is a valid row_number, so
    // the ordinals must be exactly 1..n
    val same = spark.range(0, 300, 1, 4).toDF("id").withColumn("k", lit(5))
    val (tied, tiedN) =
      PrefixSum.withOrdinalCounted(same, "ord", Seq(col("k")), 8)
    assert(tiedN == 300L)
    assert(tied.select("ord").as[Long].collect().sorted.toSeq ==
      (1L to 300L))
    assert(tied.rdd.getNumPartitions < 8)
    // three rows over eight requested partitions
    val few = Seq((3, "c"), (1, "a"), (2, "b")).toDF("k", "s")
    val (ords, fewN) =
      PrefixSum.withOrdinalCounted(few, "ord", Seq(col("k")), 8)
    assert(fewN == 3L)
    val got = ords.select("s", "ord").collect()
      .map(r => (r.getString(0): Any) -> r.getLong(1)).toMap
    assert(got == rowNumbers(few, "s", Seq("k")))
  }

  test("reliable checkpoint path: same ordinals, files written") {
    val dir = specTempDir("zip-ckpt").toString
    try {
      val df = (1 to 200).map(i => (i * 7 % 1000, i)).toDF("k", "v")
      val plain = PrefixSum.withOrdinal(df, "ord", Seq(col("k"), col("v")))
        .select("v", "ord").as[(Int, Long)].collect().toMap
      val reliable = WithCheckpointDir(dir) {
        PrefixSum.withOrdinal(df, "ord", Seq(col("k"), col("v")))
          .select("v", "ord").as[(Int, Long)].collect().toMap
      }
      assert(reliable == plain)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint dirs under $dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("no single-partition WindowExec in the plan") {
    val df = spark.range(100).toDF("id")
    val plan = PrefixSum.withOrdinal(df, "ord", Seq(col("id")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
  }

  test("empty input and single row") {
    val empty = spark.range(0).toDF("id")
    assert(PrefixSum.withOrdinal(empty, "ord", Seq(col("id"))).count() == 0)
    val one = PrefixSum.withOrdinal(spark.range(1).toDF("id"), "ord",
      Seq(col("id"))).select("ord").as[Long].collect()
    assert(one.toSeq == Seq(1L))
  }

  test("dense 1..n with skewed input partitioning") {
    val df = spark.range(0, 1000, 1, 13).toDF("id")
      .withColumn("k", pmod(col("id") * 2654435761L, lit(997)))
    val ords = PrefixSum.withOrdinal(df, "ord", Seq(col("k"), col("id")), 8)
      .select("ord").as[Long].collect().sorted
    assert(ords.toSeq == (1L to 1000L))
  }

  test("grouped ordinal equals the per-group window row_number, " +
    "window-free plan") {
    val rnd = new scala.util.Random(11)
    // 3 groups (the hazard cardinality), duplicate sort keys forbidden
    // by the distinct (total order required, same as withOrdinal)
    val df = (1 to 900).map(i => (s"g${rnd.nextInt(3)}", i * 3 % 1021, i))
      .toDF("g", "k", "v")
    val want = df.withColumn("ord", row_number()
        .over(Window.partitionBy("g").orderBy(col("k"), col("v")))
        .cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("g")))
      .select("v", "ord", "n").as[(Int, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val out = PrefixSum.withGroupedRunningTotal(df, "ord", Seq("g"),
      lit(1L), Seq(col("k"), col("v")), cntCol = Some("n"), numParts = 8)
    val got = out.select("v", "ord", "n").as[(Int, Long, Long)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == want)
    assert(!out.queryExecution.executedPlan.toString.contains("Window ["),
      "grouped ordinal must not plan a WindowExec")
  }

  test("grouped ordinal: descending order key, singleton and empty " +
    "groups") {
    val df = Seq(("a", 10), ("a", 7), ("a", 99), ("b", 5))
      .toDF("g", "k")
    val got = PrefixSum.withGroupedRunningTotal(df, "ord", Seq("g"),
        lit(1L), Seq(col("k").desc), cntCol = Some("n"))
      .select("g", "k", "ord", "n").as[(String, Int, Long, Long)]
      .collect().toSet
    assert(got == Set(("a", 99, 1L, 3L), ("a", 10, 2L, 3L),
      ("a", 7, 3L, 3L), ("b", 5, 1L, 1L)))
    assert(PrefixSum.withGroupedRunningTotal(spark.range(0).toDF("g"),
      "ord", Seq("g"), lit(1L), Seq(col("g"))).count() == 0)
  }

  test("ntileFromRank replays SQL ntile remainder semantics for " +
    "every (n, k<=5) up to 40") {
    val rows = for (n <- 1 to 40; r <- 1 to n) yield (n.toLong, r.toLong)
    val df = rows.toDF("n", "r")
    for (k <- 1 to 5) {
      val got = df.withColumn("b",
          PrefixSum.ntileFromRank(col("r"), col("n"), k))
        .select("n", "r", "b").as[(Long, Long, Int)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      // reference: ntile over an n-row frame, per n
      val want = (1 to 40).flatMap { n =>
        val q = n / k; val rem = n % k
        (1 to n).map { r =>
          val b = if (q == 0 || r <= (q + 1) * rem)
            (r + q) / (q + 1)
          else rem + (r - (q + 1) * rem + q - 1) / q
          (n.toLong, r.toLong) -> b
        }
      }.toMap
      assert(got == want, s"k=$k")
    }
  }

  test("ntileFromRank agrees with Spark's own ntile on a real frame") {
    val df = spark.range(1, 101).toDF("id")
      .withColumn("g", pmod(col("id"), lit(7)).cast("string"))
    val w = Window.partitionBy("g").orderBy("id")
    val both = df
      .withColumn("want", ntile(3).over(w))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      .withColumn("got", PrefixSum.ntileFromRank(col("r"), col("n"), 3))
    assert(both.filter(col("want") =!= col("got")).count() == 0)
  }
}
