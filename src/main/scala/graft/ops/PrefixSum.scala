package graft.ops

import graft.functions.PartitionRunningSum
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's one ORDERED SCAN: ordinals and weighted running totals
  * under a corpus-scale total order — the distributed replacement for
  * `row_number()` / `sum(w) OVER (ORDER BY ...)`, which move the whole
  * input to ONE partition. The reference's enumerated renaming
  * (`upload_file.py:215-226`) is the ordinal, i.e. weight 1; sequence
  * packing is the running total of a token count.
  *
  * Plan: range-repartition on the sort key and sort within partitions;
  * [[PartitionRunningSum]] adds each row's running total LOCAL to its
  * partition and `spark_partition_id()` tags the partition, both inside
  * the sorted frame that [[Materialize]] stores — so no window, no
  * exchange and no re-sort sit above the range shuffle. Offsets, the
  * prefix sum of ≤ numParts partition totals, are computed on the
  * driver and applied as an array literal indexed by partition id.
  *
  * Jobs: two for the range exchange (sample, map stage), then ONE job
  * over the stored partitions fills the checkpoint and returns each
  * partition's total — three before the first action on a shuffle-free
  * input, with the grand total free.
  *
  * Weights are cast to LONG: exact integer sums commute across
  * partitions and replay bit for bit in a SQL oracle. A null weight
  * adds nothing. The scan survives executor loss exactly when the
  * deployment sets `spark.checkpoint.dir` ([[Materialize]]).
  */
object PrefixSum {

  /** Adds `totalCol` = inclusive running total of `weight` under
    * `orderBy` (which must be a total order for deterministic results)
    * and returns the grand total with it.
    *
    * @param numParts range partitions; defaults to
    *                 spark.sql.shuffle.partitions (or defaultParallelism
    *                 when that conf is non-numeric, e.g. "auto") */
  def runningTotal(df: DataFrame, totalCol: String, weight: Column,
      orderBy: Seq[Column], numParts: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val n = if (numParts > 0) numParts
      else scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .filter(_ > 0)
        .getOrElse(spark.sparkContext.defaultParallelism)
    // the stats job and the output both consume `ranged`; materializing
    // it once makes them read the SAME partition boundaries and the
    // SAME local totals by construction — two independently sampled
    // RangePartitioners could disagree and the offsets would silently
    // mismatch the pids. The lazy checkpoint is filled by the stats job
    // itself, so the stored copy costs no job of its own.
    val ranged = Materialize(df.repartitionByRange(n, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
      .withColumn("__local", PartitionRunningSum(weight))
      .withColumn("__pid", spark_partition_id()), eager = false)
    // per-partition (pid, total) in ONE job over the stored partitions:
    // a partition's total is its last local running total; an empty
    // partition yields none (its pid is never read)
    val pidAt = ranged.schema.fieldIndex("__pid")
    val localAt = ranged.schema.fieldIndex("__local")
    val stats = ranged.queryExecution.toRdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val first = rows.next()
        val pid = first.getInt(pidAt)
        var last = first.getLong(localAt)
        while (rows.hasNext) last = rows.next().getLong(localAt)
        Iterator.single((pid, last))
      }
    }.collect().sortBy(_._1)
    // exclusive prefix sum in pid order on the driver
    val offset = new Array[Long](stats.lastOption.fold(0)(_._1 + 1))
    var acc = 0L
    stats.foreach { case (pid, tot) => offset(pid) = acc; acc += tot }
    val out = ranged
      .withColumn(totalCol, col("__local") +
        element_at(typedLit(offset.toSeq), col("__pid") + 1))
      .drop("__local", "__pid")
    (out, acc)
  }

  /** [[runningTotal]] without the grand total. */
  def withRunningTotal(df: DataFrame, totalCol: String, weight: Column,
      orderBy: Seq[Column], numParts: Int = 0): DataFrame =
    runningTotal(df, totalCol, weight, orderBy, numParts)._1

  /** Adds `ordCol` = 1-based ordinal of the row under `orderBy` — the
    * running total of weight 1 — and returns the row count with it, so
    * callers (SuffixArray's termination test, the blueprints' match
    * count) run no count job of their own. */
  def withOrdinalCounted(df: DataFrame, ordCol: String,
      orderBy: Seq[Column], numParts: Int = 0): (DataFrame, Long) =
    runningTotal(df, ordCol, lit(1L), orderBy, numParts)

  /** [[withOrdinalCounted]] without the row count. */
  def withOrdinal(df: DataFrame, ordCol: String, orderBy: Seq[Column],
      numParts: Int = 0): DataFrame =
    withOrdinalCounted(df, ordCol, orderBy, numParts)._1

  /** Per-GROUP inclusive running total — the distributed replacement
    * for `sum(w) OVER (PARTITION BY g ORDER BY ...)` and, with weight
    * `lit(1L)`, for `row_number() OVER (PARTITION BY g ORDER BY ...)`,
    * when `g` has FEW distinct values over a corpus-scale frame:
    * a window gives each window partition to ONE task, so a
    * 3-value key over 100 TB funnels ~corpus/3 rows into a single
    * sorting task. Here the global [[runningTotal]] runs over
    * (groups ++ orderBy), so every group spreads across many partitions
    * and is contiguous in the scan; the per-group total is the global
    * one minus the group's base, `min(run − w)` — the running total
    * before the group's first row. A map-side-combined aggregate of
    * |groups| rows computes the bases and is broadcast back.
    *
    * EXACT ONLY FOR NON-NEGATIVE WEIGHTS: then `run − w` is
    * non-decreasing in the order, so its minimum sits at the group's
    * first row. Every caller passes a count, a size or `lit(1L)`.
    *
    * Optionally also attaches the group's row count (`cntCol`) — the
    * ntile replay needs it and it is free from the same aggregate.
    */
  def withGroupedRunningTotal(df: DataFrame, totalCol: String,
      groupCols: Seq[String], weight: Column, orderBy: Seq[Column],
      cntCol: Option[String] = None, numParts: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "withGroupedRunningTotal: no group " +
      "columns — use withRunningTotal for a global running total")
    // two consumers (the base agg + the rejoin) read `run`, but NO second
    // materialization is needed: runningTotal already checkpointed the
    // scanned frame and its offset arithmetic is deterministic
    val run = withRunningTotal(df, "__run", weight,
      groupCols.map(col) ++ orderBy, numParts)
    val bases = run.groupBy(groupCols.map(col): _*)
      .agg(min(col("__run") - coalesce(weight.cast("long"), lit(0L)))
          .as("__base"),
        count(lit(1)).as("__gcnt"))
    val joined = run.join(broadcast(bases), groupCols)
      .withColumn(totalCol, col("__run") - col("__base"))
    cntCol.fold(joined)(c => joined.withColumn(c, col("__gcnt")))
      .drop("__run", "__base", "__gcnt")
  }

  /** Sequence packing: assign each row to a fixed-budget BIN by its
    * cumulative START offset under `orderBy` — bin = floor((running -
    * w) / budget), the distributed form of "fill context windows of
    * `budget` tokens in corpus order". Rows longer than the budget get
    * their own bin(s); bins are contiguous in the total order. With
    * `groupCols`, offsets and bins restart at 0 inside every group
    * ([[withGroupedRunningTotal]]) — the epoch-batch shape, each epoch
    * filling its own fixed-budget micro-batches in shuffled order.
    * Returns the input plus (start_offset, bin). */
  def packIntoBins(df: DataFrame, weight: Column, budget: Long,
      orderBy: Seq[Column], binCol: String = "bin",
      groupCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"packIntoBins: budget must be positive ($budget)")
    val run =
      if (groupCols.isEmpty)
        withRunningTotal(df, "__running", weight, orderBy)
      else
        withGroupedRunningTotal(df, "__running", groupCols, weight, orderBy)
    run.withColumn("start_offset", col("__running") - weight.cast("long"))
      .withColumn(binCol, floor(col("start_offset") / budget))
      .drop("__running")
  }

  /** SQL-standard `ntile(k)` replayed from a per-group (rank, count)
    * pair — first `n mod k` buckets take the extra row, exactly the
    * DuckDB/Spark remainder semantics. Integral arithmetic only (the
    * inputs are LongType ordinals); both CASE branches are lazily
    * evaluated, so the `q = 0` small-group edge (n < k) never divides
    * by zero: there `rem·(q+1) = n` and the first branch always wins.
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    require(k > 0, s"ntileFromRank: k must be positive ($k)")
    // IntegralDivide (`div`), not Column./ (double division) — ordinals
    // must stay exact past 2^53 rows
    def idiv(a: Column, b: Column) = call_function("div", a, b)
    val q = idiv(n, lit(k.toLong))
    val rem = n % lit(k.toLong)
    val headSpan = (q + 1L) * rem   // rows in the (q+1)-sized buckets
    when(rank <= headSpan, idiv(rank + q, q + 1L))
      .otherwise(rem + idiv(rank - headSpan + q - 1L, q))
      .cast("int")
  }
}
