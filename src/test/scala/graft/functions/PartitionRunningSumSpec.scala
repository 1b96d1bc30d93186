package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PartitionRunningSumSpec extends SparkSpec {

  /** (partition id, value, running sum) of `w` over 4 partitions of
    * 0..99 — every fifth weight null (adds nothing) — under `confs`,
    * each restored afterwards; also whether the plan fused into
    * whole-stage codegen. */
  private def sums(confs: (String, String)*)
      : (Seq[(Int, Long, Long)], Boolean) = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.range(0, 100, 1, 4).toDF("v")
        .withColumn("w",
          when(col("v") % 5L =!= 0L, col("v") * 3L + 1L))
        .select(spark_partition_id().as("p"), col("v"),
          PartitionRunningSum(col("w")).as("run"))
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

  test("interpreted and codegen paths give the same per-partition " +
    "running sums, reset at every partition start") {
    val (gen, genFused) = sums()
    val (interp, interpFused) = sums(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(genFused, "default path must run whole-stage codegen")
    assert(!interpFused, "NO_CODEGEN path must not fuse")
    assert(gen.map(_._1).distinct.size == 4)
    val want = gen.groupBy(_._1).toSeq.flatMap { case (p, rows) =>
      val vs = rows.map(_._2).sorted
      val ws = vs.map(v => if (v % 5 != 0) v * 3 + 1 else 0L)
      vs.zip(ws.scanLeft(0L)(_ + _).tail).map { case (v, s) => (p, v, s) }
    }.toSet
    assert(gen.toSet == want)
    assert(interp.toSet == want)
    // each partition's first row carries only its own weight
    gen.groupBy(_._1).values.foreach { rows =>
      val first = rows.minBy(_._2)
      assert(first._3 == (if (first._2 % 5 != 0) first._2 * 3 + 1 else 0L))
    }
  }
}
