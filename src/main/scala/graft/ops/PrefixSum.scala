package graft.ops

import graft.functions.{PartitionRunStart, PartitionRunningSum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{OrderedDistribution, RangePartitioning}
import org.apache.spark.sql.execution.LogicalRDD
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
  * Ranged input: when the input's plan already states that it is
  * range-partitioned on the key, as a [[graft.catalog.FileCatalog]]
  * listing is on `path`, the range shuffle is skipped: each of the
  * input's own partitions is sorted in its task (a sort Spark drops
  * when the input is sorted already) and scanned. Such a claim is
  * checked, not trusted: the stats pass returns each partition's first
  * and last rows and the driver compares each partition's last row
  * with the next one's first, so a false claim fails naming the
  * partition instead of misnumbering rows.
  *
  * Jobs: two for the range exchange (sample, map stage), then ONE job
  * over the stored partitions fills the checkpoint and returns each
  * partition's total and row count — three before the first action on
  * a shuffle-free input, ONE on a ranged input, with the grand total
  * and the row count free.
  *
  * Dense rank ([[withDenseRankCounted]]): the running total of
  * [[PartitionRunStart]], which is 1 where a partition starts or the key
  * changes. Equal keys share a range partition, because the range
  * partitioner places a row by its key alone, and a partition is
  * sorted, so every key is one run and is counted once: the total is
  * `dense_rank()` and the grand total the distinct-key count — a
  * `distinct` + ordinal + join-back in one scan. The stats pass checks
  * that no key straddles two partitions.
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
    * An input whose plan is already range-partitioned on `orderBy` (see
    * [[claimed]]) is sorted within its own partitions, with no range
    * shuffle; the stats pass then checks the partitions' order and
    * fails on the first partition that breaks it.
    *
    * @param numParts range partitions when the input is shuffled;
    *                 defaults to [[defaultParts]] */
  def runningTotal(df: DataFrame, totalCol: String, weight: Column,
      orderBy: Seq[Column], numParts: Int = 0): (DataFrame, Long) = {
    val s = scan(df, totalCol, weight, orderBy, numParts, dense = false)
    (s.frame, s.total)
  }

  /** Adds `rankCol` = the 1-based DENSE rank of the row's `orderBy` key,
    * `dense_rank() OVER (ORDER BY orderBy)`, and returns the number of
    * distinct keys and the number of rows with it, both from the stats
    * pass: [[runningTotal]] with the weight
    * [[PartitionRunStart]]`(struct(orderBy))` (see the object doc for
    * why that is the dense rank). A key that straddles two partitions
    * fails the call, naming both. `orderBy` holds ascending column
    * expressions, no sort directions; rows with equal keys share a rank.
    */
  def withDenseRankCounted(df: DataFrame, rankCol: String,
      orderBy: Seq[Column]): (DataFrame, Long, Long) = {
    val s = scan(df, rankCol, PartitionRunStart(struct(orderBy: _*)),
      orderBy, 0, dense = true)
    (s.frame, s.total, s.rows)
  }

  /** Frees the checkpoint under a frame returned by [[runningTotal]] or
    * [[withDenseRankCounted]], or under a projection of one: the scan
    * keeps its checkpoint internal, so [[Materialize.release]], which
    * takes the checkpoint itself, cannot reach it. Call it after the
    * frame's LAST action. */
  def release(frame: DataFrame): Unit = {
    def leaf(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => leaf(child)
      case other => other
    }
    Materialize.releaseLeaf(leaf(frame.queryExecution.analyzed))
  }

  private final case class Scan(frame: DataFrame, total: Long, rows: Long)

  /** The ordered scan behind [[runningTotal]] and
    * [[withDenseRankCounted]]; `dense` adds the check that no key
    * straddles two partitions. */
  private def scan(df: DataFrame, totalCol: String, weight: Column,
      orderBy: Seq[Column], numParts: Int, dense: Boolean): Scan = {
    val claim = claimed(df, orderBy)
    val sorted = (if (claim.nonEmpty) df else {
      val n = if (numParts > 0) numParts else defaultParts(df.sparkSession)
      df.repartitionByRange(n, orderBy: _*)
    }).sortWithinPartitions(orderBy: _*)
    // the stats job and the output both consume `ranged`; materializing
    // it once makes them read the SAME partition boundaries and the
    // SAME local totals by construction — two independently sampled
    // RangePartitioners could disagree and the offsets would silently
    // mismatch the pids (and a ranged source would be listed twice).
    // The lazy checkpoint is filled by the stats job itself, so the
    // stored copy costs no job of its own.
    val ranged = Materialize(sorted
      .withColumn("__local", PartitionRunningSum(weight))
      .withColumn("__pid", spark_partition_id()), eager = false)
    // per-partition (pid, total, rows) in ONE job over the stored
    // partitions: a partition's total is its last local running total;
    // an empty partition yields none (its pid is never read). On a
    // claimed range partitioning, and for a dense rank, the same pass
    // keeps the partition's first and last rows for the driver to chain.
    val pidAt = ranged.schema.fieldIndex("__pid")
    val localAt = ranged.schema.fieldIndex("__local")
    val order = if (dense && claim.isEmpty) sortOrder(df, orderBy) else claim
    // the input's columns lead `ranged`'s rows, so the order binds there
    val check = if (order.isEmpty) None else Some(new InterpretedOrdering(
      order.map(BindReferences.bindReference(_, df.queryExecution.analyzed.output))))
    val keys = order.map(_.sql).mkString(", ")
    val source = if (claim.nonEmpty) "the input claims" else "the range shuffle gives"
    val keep = check.nonEmpty
    val stats = ranged.queryExecution.toRdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val first = rows.next()
        val pid = first.getInt(pidAt)
        val head = if (keep) first.copy() else null
        var row = first
        var n = 1L
        while (rows.hasNext) { row = rows.next(); n += 1 }
        Iterator.single(PartStats(pid, row.getLong(localAt), n, head,
          if (keep) row.copy() else null))
      }
    }.collect().sortBy(_.pid)
    check.foreach { ord =>
      stats.zip(stats.drop(1)).foreach { case (a, b) =>
        val c = ord.compare(a.last, b.first)
        require(c <= 0, s"PrefixSum: $source range partitioning on $keys " +
          s"but partition ${b.pid} breaks it")
        require(c < 0 || !dense, s"PrefixSum: a key of $keys straddles " +
          s"partitions ${a.pid} and ${b.pid}, so a dense rank would count " +
          "it twice")
      }
    }
    // exclusive prefix sum in pid order on the driver
    val offset = new Array[Long](stats.lastOption.fold(0)(_.pid + 1))
    var acc = 0L
    stats.foreach { s => offset(s.pid) = acc; acc += s.total }
    val out = ranged
      .withColumn(totalCol, col("__local") +
        element_at(typedLit(offset.toSeq), col("__pid") + 1))
      .drop("__local", "__pid")
    Scan(out, acc, stats.map(_.rows).sum)
  }

  /** One stored partition of the scan: its id, its total, its row
    * count, and (when the order is checked, else null) its first and
    * last rows. */
  private final case class PartStats(pid: Int, total: Long, rows: Long,
      first: InternalRow, last: InternalRow)

  /** The range partition count when the caller gives none:
    * spark.sql.shuffle.partitions, or defaultParallelism when that conf
    * is non-numeric (e.g. "auto"). [[graft.catalog.FileCatalog]] spreads
    * top-level files over the same count. */
  def defaultParts(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .filter(_ > 0)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** `orderBy` resolved against `df` when `df`'s analyzed plan is
    * already range-partitioned on it — an RDD leaf, reached through
    * `Project`s and `Filter`s only, whose partitioning satisfies
    * `OrderedDistribution(orderBy)` (a [[graft.catalog.FileCatalog]]
    * listing, a checkpoint of a frame already ranged on the same key) —
    * else empty. Reads the plan the Dataset already holds: nothing is
    * optimized or planned again. */
  private def claimed(df: DataFrame, orderBy: Seq[Column]): Seq[SortOrder] = {
    def leaf(p: LogicalPlan): Option[LogicalRDD] = p match {
      case r: LogicalRDD => Some(r)
      case Project(_, child) => leaf(child)
      case Filter(_, child) => leaf(child)
      case _ => None
    }
    leaf(df.queryExecution.analyzed) match {
      case Some(r) if r.outputPartitioning.isInstanceOf[RangePartitioning] =>
        val order = sortOrder(df, orderBy)
        // an attribute of the leaf that reaches `df` unchanged keeps its
        // id through every Project above it
        val holds = order.nonEmpty &&
          order.forall(_.references.subsetOf(r.outputSet)) &&
          r.outputPartitioning.satisfies(OrderedDistribution(order))
        if (holds) order else Nil
      case _ => Nil
    }
  }

  /** `orderBy` resolved against `df`, as `sortWithinPartitions` does. */
  private def sortOrder(df: DataFrame, orderBy: Seq[Column]): Seq[SortOrder] =
    df.sortWithinPartitions(orderBy: _*).queryExecution.analyzed
      .asInstanceOf[Sort].order

  /** [[runningTotal]] without the grand total. */
  def withRunningTotal(df: DataFrame, totalCol: String, weight: Column,
      orderBy: Seq[Column], numParts: Int = 0): DataFrame =
    runningTotal(df, totalCol, weight, orderBy, numParts)._1

  /** Adds `ordCol` = 1-based ordinal of the row under `orderBy` — the
    * running total of weight 1 — and returns the row count with it, so
    * callers (the blueprints' match count) run no count job of their
    * own. */
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
