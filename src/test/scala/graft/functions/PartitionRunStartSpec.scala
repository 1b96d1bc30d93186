package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class PartitionRunStartSpec extends SparkSpec {

  /** (partition id, v, run start) over 4 partitions of 0..119, each
    * sorted by (`key`, v), under `confs`, each restored afterwards; also
    * whether the plan fused into whole-stage codegen. */
  private def starts(key: Column, confs: (String, String)*)
      : (Seq[(Int, Long, Long)], Boolean) = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.range(0, 120, 1, 4).toDF("v")
        .withColumn("s", when(col("v") % 7 =!= 3,
          concat(lit("s"), (col("v") / 10).cast("int").cast("string"))))
        .withColumn("g", (col("v") % 3).cast("int"))
        .sortWithinPartitions(key, col("v"))
        .select(spark_partition_id().as("p"), col("v"),
          PartitionRunStart(key).as("start"))
      val fused = df.queryExecution.executedPlan.toString
        .linesIterator.exists(_.trim.startsWith("*("))
      val rows = df.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      (rows, fused)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The same flags computed here: 1 on each partition's first row and
    * where the key changes, with partition p holding v in [30p, 30p+30). */
  private def expected(key: Long => Any)(implicit ord: Ordering[Any])
      : Set[(Int, Long, Long)] =
    (0 until 4).flatMap { p =>
      val vs = (30L * p until 30L * p + 30).sortBy(v => (key(v), v))(
        Ordering.Tuple2(ord, Ordering.Long))
      vs.indices.map { i =>
        val start = i == 0 || key(vs(i)) != key(vs(i - 1))
        (p, vs(i), if (start) 1L else 0L)
      }
    }.toSet

  private def s(v: Long): Option[String] =
    if (v % 7 != 3) Some(s"s${v / 10}") else None

  test("interpreted and codegen paths flag the same run starts, reset " +
    "at every partition start, for long, string-with-null and struct " +
    "keys") {
    val optStr = Ordering.Option(Ordering.String)
    val cases = Seq[(Column, Long => Any, Ordering[Any])](
      (col("g").cast("long"), v => v % 3, Ordering.Long.asInstanceOf[Ordering[Any]]),
      (col("s"), v => s(v), optStr.asInstanceOf[Ordering[Any]]),
      (struct(col("s"), col("g")), v => (s(v), v % 3),
        Ordering.Tuple2(optStr, Ordering.Long).asInstanceOf[Ordering[Any]]))
    cases.foreach { case (key, f, ord) =>
      val want = expected(f)(ord)
      val (gen, genFused) = starts(key)
      val (interp, interpFused) = starts(key,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      assert(genFused, "default path must run whole-stage codegen")
      assert(!interpFused, "NO_CODEGEN path must not fuse")
      assert(gen.map(_._1).distinct.size == 4)
      assert(gen.toSet == want, s"codegen, key $key")
      assert(interp.toSet == want, s"interpreted, key $key")
    }
  }
}
