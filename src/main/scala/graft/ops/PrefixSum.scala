package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed WEIGHTED running total — the scalable replacement for
  * `sum(w) OVER (ORDER BY ...)`, which (like global `row_number`) moves
  * the entire input into ONE window partition. Generalizes
  * [[ZipIndex]] from counts to weights; the canonical consumer is
  * sequence PACKING for training pipelines (assign documents to
  * fixed-token-budget bins by cumulative token count).
  *
  * Plan: range-repartition on the sort key; per-partition local running
  * totals via a window PARTITIONED BY `spark_partition_id()` (each
  * window partition is exactly one data partition — parallel, never a
  * single-reducer sort); per-partition totals (≤ numParts rows) prefix-
  * summed on the driver and broadcast back as offsets. The result is
  * the exact global running total under the total order, independent of
  * partition boundaries.
  *
  * Weights must be integral (LongType) — exact integer sums commute
  * across partitions and replay bit-for-bit in a SQL oracle; double
  * weights would make the running total partition-order dependent.
  */
object PrefixSum {

  /** Adds `totalCol` = inclusive running total of `weight` under
    * `orderBy` (which must be a total order for deterministic results).
    *
    * @param numParts range partitions; defaults to
    *                 spark.sql.shuffle.partitions (or defaultParallelism
    *                 when that conf is non-numeric) */
  def withRunningTotal(df: DataFrame, totalCol: String, weight: Column,
      orderBy: Seq[Column], numParts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (numParts > 0) numParts
      else scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .filter(_ > 0)
        .getOrElse(spark.sparkContext.defaultParallelism)
    // materialize once so the stats job and the output read the SAME
    // partition boundaries (see ZipIndex for the ReuseExchange rationale)
    val ranged = Materialize(df
      .withColumn("__w", weight.cast("long"))
      .repartitionByRange(n, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
      .withColumn("__pid", spark_partition_id()),
      eager = false)
    // local inclusive running total: window keyed by the physical
    // partition id — numParts window partitions, fully parallel
    val w = Window.partitionBy(col("__pid")).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("__local", sum(col("__w")).over(w))
    // per-partition totals -> driver prefix sum (≤ numParts rows)
    val stats = ranged.groupBy(col("__pid"))
      .agg(sum(col("__w")).as("__tot")).collect()
    val sorted = stats.sortBy(_.getInt(0))
    var acc = 0L
    val rows = sorted.map { r =>
      val off = acc; acc += r.getLong(1); Row(r.getInt(0), off)
    }
    val offSchema = StructType(Seq(
      StructField("__pid", IntegerType, nullable = false),
      StructField("__offset", LongType, nullable = false)))
    val offsets = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), offSchema)
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(totalCol, col("__offset") + col("__local"))
      .drop("__pid", "__w", "__local", "__offset")
  }

  /** Sequence packing: assign each row to a fixed-budget BIN by its
    * cumulative START offset under `orderBy` — bin = floor((running -
    * w) / budget), the distributed form of "fill context windows of
    * `budget` tokens in corpus order". Rows longer than the budget get
    * their own bin(s); bins are contiguous in the total order. Returns
    * the input plus (start_offset, bin). */
  def packIntoBins(df: DataFrame, weight: Column, budget: Long,
      orderBy: Seq[Column], binCol: String = "bin"): DataFrame = {
    require(budget > 0, s"packIntoBins: budget must be positive ($budget)")
    withRunningTotal(df, "__running", weight, orderBy)
      .withColumn("start_offset", col("__running") - weight.cast("long"))
      .withColumn(binCol, floor(col("start_offset") / budget))
      .drop("__running")
  }

  /** Per-GROUP inclusive running total — the distributed replacement
    * for `sum(w) OVER (PARTITION BY g ORDER BY ...)` when `g` has few
    * distinct values over a corpus-scale frame (the
    * [[ZipIndex.withGroupedOrdinal]] argument, weighted): a 3-value
    * window key hands ~corpus/3 rows to ONE sorting task. Plan: range
    * partition on (groups ++ orderBy) so every group spreads across
    * all partitions; local running totals via a window keyed by
    * (physical partition id, groups) — window partitions bounded by
    * data-partition size, fully parallel; per-(pid, group) totals
    * (≤ numParts·|groups| rows) prefix-summed per group on the driver
    * and broadcast back. Weights must be integral (see
    * [[withRunningTotal]]). */
  def withGroupedRunningTotal(df: DataFrame, totalCol: String,
      groupCols: Seq[String], weight: Column, orderBy: Seq[Column],
      numParts: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "withGroupedRunningTotal: no group " +
      "columns — use withRunningTotal for a global running total")
    val spark = df.sparkSession
    val n = if (numParts > 0) numParts
      else scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .filter(_ > 0)
        .getOrElse(spark.sparkContext.defaultParallelism)
    val keys = groupCols.map(col) ++ orderBy
    val ranged = Materialize(df
      .withColumn("__w", weight.cast("long"))
      .repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id()),
      eager = false)
    val w = Window
      .partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("__local", sum(col("__w")).over(w))
    // per-(pid, group) totals — driver-sized (numParts × |groups|)
    val stats = ranged
      .groupBy(col("__pid") +: groupCols.map(col): _*)
      .agg(sum(col("__w")).as("__tot"))
      .collect()
    val gIdx = 1 to groupCols.size
    val offRows = stats
      .groupBy(r => gIdx.map(r.get).toSeq)
      .valuesIterator.flatMap { rs =>
        var acc = 0L
        rs.sortBy(_.getInt(0)).map { r =>
          val off = acc; acc += r.getLong(groupCols.size + 1)
          Row.fromSeq(r.getInt(0) +: gIdx.map(r.get) :+ off)
        }
      }.toSeq
    val offSchema = StructType(
      StructField("__pid", IntegerType, nullable = false) +:
        gIdx.map(i => stats.headOption
          .map(_.schema(i)).getOrElse(
            StructField(groupCols(i - 1), LongType))).toSeq :+
        StructField("__offset", LongType, nullable = false))
    val offsets = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), offSchema)
    local.join(broadcast(offsets), "__pid" +: groupCols)
      .withColumn(totalCol, col("__offset") + col("__local"))
      .drop("__pid", "__w", "__local", "__offset")
  }

  /** [[packIntoBins]] per group: bins restart at 0 inside every group
    * — the epoch-batch shape (each epoch fills its own fixed-budget
    * micro-batches in shuffled order). */
  def packIntoGroupedBins(df: DataFrame, groupCols: Seq[String],
      weight: Column, budget: Long, orderBy: Seq[Column],
      binCol: String = "bin"): DataFrame = {
    require(budget > 0,
      s"packIntoGroupedBins: budget must be positive ($budget)")
    withGroupedRunningTotal(df, "__running", groupCols, weight, orderBy)
      .withColumn("start_offset", col("__running") - weight.cast("long"))
      .withColumn(binCol, floor(col("start_offset") / budget))
      .drop("__running")
  }
}
