package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalable global enumeration — the distributed replacement for
  * `row_number() OVER (ORDER BY ...)`, which moves the whole input to ONE
  * partition (Spark's WindowExec warns exactly this). The reference's
  * enumerated renaming (`upload_file.py:215-226`) and any
  * "assign ordinal by sort order" need a total order, but not a single
  * machine.
  *
  * Plan: range-repartition on the sort key (the same exchange a global
  * sort uses) and sort within partitions, so partition i holds the rank
  * range (offset_i, offset_i + count_i]. Partition identity comes from
  * `spark_partition_id()` (documented, stable); the in-partition position
  * comes from `monotonically_increasing_id()` relative to the partition's
  * MINIMUM id — only "ids are assigned in flow order and consecutive
  * within a partition" is assumed, not the pid<<33 bit layout, and that
  * assumption is ASSERTED per partition (max-min+1 == count) so engine
  * drift fails loudly instead of silently corrupting ordinals. Offsets
  * are a prefix sum over the per-partition counts — ≤ numParts values,
  * computed on the driver and applied as an array literal indexed by
  * partition id (no join, no broadcast job).
  *
  * Jobs: the range exchange costs two (the partitioner's sample and the
  * map stage, both run when the lazy checkpoint is planned), then ONE
  * RDD-level job reads the sorted partitions, fills the checkpoint and
  * returns each partition's (count, min id, max id). The output reads
  * the stored partitions; a shuffle-free input is enumerated in three
  * jobs before its first action.
  */
object ZipIndex {

  /** Adds `ordCol` = 1-based ordinal of the row under `orderBy` (which
    * must be a total order for deterministic results).
    *
    * @param numParts range partitions; defaults to
    *                 spark.sql.shuffle.partitions (or defaultParallelism
    *                 when that conf is non-numeric, e.g. "auto")
    *
    * The ranged frame is materialized through [[Materialize]], so the
    * enumeration survives executor loss exactly when the deployment
    * sets `spark.checkpoint.dir`. */
  def withOrdinal(df: DataFrame, ordCol: String, orderBy: Seq[Column],
      numParts: Int = 0): DataFrame =
    withOrdinalCounted(df, ordCol, orderBy, numParts)._1

  /** [[withOrdinal]] plus the input's row count — FREE: the ordinal
    * assignment already collects per-partition counts for the offset
    * prefix sum, so callers (SuffixArray's termination test, the
    * blueprints' match count) run no count job of their own. */
  def withOrdinalCounted(df: DataFrame, ordCol: String,
      orderBy: Seq[Column], numParts: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val n = if (numParts > 0) numParts
      else scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .filter(_ > 0)
        .getOrElse(spark.sparkContext.defaultParallelism)
    // the stats job and the output both consume `ranged`; materializing
    // it once makes them read the SAME partition boundaries by
    // construction — two independently sampled RangePartitioners could
    // disagree and the offsets would silently mismatch the pids. The
    // lazy checkpoint is filled by the stats job itself, so the stored
    // copy costs no job of its own.
    val ranged = Materialize(df.repartitionByRange(n, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id()), eager = false)
    // per-partition (pid, count, min mid, max mid) in ONE job over the
    // stored partitions: no aggregate exchange, ≤ numParts tuples on
    // the wire; an empty partition yields none (its pid is never read)
    val pidAt = ranged.schema.fieldIndex("__pid")
    val midAt = ranged.schema.fieldIndex("__mid")
    val stats = ranged.queryExecution.toRdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val first = rows.next()
        val pid = first.getInt(pidAt)
        var lo = first.getLong(midAt)
        var hi = lo
        var cnt = 1L
        rows.foreach { r =>
          val m = r.getLong(midAt)
          if (m < lo) lo = m
          if (m > hi) hi = m
          cnt += 1
        }
        Iterator.single((pid, cnt, lo, hi))
      }
    }.collect().sortBy(_._1)
    stats.foreach { case (pid, cnt, base, maxMid) =>
      // loud guard on the one implementation detail we lean on:
      // monotonically_increasing_id is consecutive within a partition
      require(maxMid - base + 1 == cnt,
        s"ZipIndex: non-consecutive monotonically_increasing_id in " +
          s"partition $pid (count=$cnt, id span=${maxMid - base + 1}); " +
          "engine id-assignment changed — ordinals would be corrupt")
    }
    // prefix sum in pid order on the driver, folded with each
    // partition's base id into one delta per pid: ordinal = mid + delta
    val delta = new Array[Long](stats.lastOption.fold(0)(_._1 + 1))
    var acc = 0L
    stats.foreach { case (pid, cnt, base, _) =>
      delta(pid) = acc - base + 1L
      acc += cnt
    }
    val out = ranged
      .withColumn(ordCol, col("__mid") +
        element_at(typedLit(delta.toSeq), col("__pid") + 1))
      .drop("__mid", "__pid")
    (out, acc)
  }

  /** Per-GROUP 1-based ordinals under `orderBy` — the distributed
    * replacement for `row_number() OVER (PARTITION BY g ORDER BY ...)`
    * when `g` has FEW distinct values over a corpus-scale frame.
    * Spark's WindowExec gives each window partition to ONE task, so a
    * 3-value key over 100 TB funnels ~corpus/3 rows into a single
    * sorting task. Here the range partitioner keys on
    * (groups ++ orderBy), so every group spreads across many
    * partitions; the global [[withOrdinal]] ordinal is contiguous per
    * group by construction, and the per-group rank is just
    * `global − min(global in group) + 1`. The per-group (min, count)
    * aggregate is a map-side-combined hash agg whose output is
    * |groups| rows — driver-trivial, broadcast back.
    *
    * Optionally also attaches the group's row count (`cntCol`) — the
    * ntile replay needs it and it is free from the same aggregate.
    */
  def withGroupedOrdinal(df: DataFrame, ordCol: String,
      groupCols: Seq[String], orderBy: Seq[Column],
      cntCol: Option[String] = None, numParts: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "withGroupedOrdinal: no group columns" +
      " — use withOrdinal for a global ordinal")
    // two consumers (group agg + rejoin) read `keyed`, but NO second
    // materialization is needed: withOrdinal already checkpointed the
    // ranged frame, and everything on top of it (the offset literal's
    // arithmetic) is deterministic — both consumers recompute the same
    // cheap tail over the same checkpointed partitions.
    val keyed = withOrdinal(df, "__gord",
      groupCols.map(col) ++ orderBy, numParts)
    val mins = keyed.groupBy(groupCols.map(col): _*)
      .agg(min(col("__gord")).as("__gmin"),
        count(lit(1)).as("__gcnt"))
    val joined = keyed.join(broadcast(mins), groupCols)
      .withColumn(ordCol, col("__gord") - col("__gmin") + 1L)
    val withCnt = cntCol.fold(joined)(c =>
      joined.withColumn(c, col("__gcnt")))
    withCnt.drop("__gord", "__gmin", "__gcnt")
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
