package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** The one owner of how a frame is materialized — every checkpoint in
  * the engine goes through here.
  *
  * Mode comes from the deployment, not from call sites: with no
  * checkpoint directory (the default) a frame is `localCheckpoint`ed —
  * fast executor-storage blocks, so a lost executor FAILS the job
  * rather than recomputing. When the SparkContext has a checkpoint
  * directory (Spark's own `spark.checkpoint.dir` setting) every frame
  * goes through reliable `checkpoint` into it instead and survives
  * executor loss. One global switch is the only form of the
  * fault-tolerant mode that can hold: a single local checkpoint
  * anywhere upstream truncates lineage to executor blocks and voids
  * every reliable checkpoint downstream of it.
  */
object Materialize {

  /** True when materializations are reliable checkpoints (the
    * SparkContext has a checkpoint directory). */
  def faultTolerant(spark: SparkSession): Boolean =
    spark.sparkContext.getCheckpointDir.isDefined

  /** `df` truncated to a checkpoint: reliable when [[faultTolerant]],
    * local otherwise. `eager` materializes it now (one job); lazy
    * leaves that to the frame's first action. */
  def apply(df: DataFrame, eager: Boolean): DataFrame =
    if (faultTolerant(df.sparkSession)) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** [[apply]] `eager`, plus the frame's row count from the SAME job.
    * The count rides along as an observed metric (`Dataset.observe`)
    * on the rows the checkpoint stores, so there is no follow-up
    * `count()`: that would cost one more job over the blocks (two
    * under AQE, whose aggregate plans an exchange). One job fills
    * either mode — the local checkpoint's block job or the reliable
    * checkpoint's file-write job. Result-task metric updates are
    * applied once per partition, so retries do not double count. One
    * metric name serves every call: the observed frame never escapes,
    * and the checkpoint's `LogicalRDD` leaf hides it from later plans. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val observed = df.observe(CountMetric, count(lit(1)))
    val out = apply(observed, eager = true)
    (out, observed.queryExecution.observedMetrics(CountMetric).getLong(0))
  }

  private val CountMetric = "__graft_materialize_count"

  /** Frees the blocks under a frame returned by [[apply]]. Call it after
    * the frame's LAST action: a released local checkpoint cannot be
    * recomputed. `Dataset.unpersist` does not do this — it only drops
    * cache-manager entries, and a checkpoint's blocks belong to the RDD
    * under its `LogicalRDD` leaf, which neither `unpersist` nor
    * `clearCache()` reaches. */
  def release(df: DataFrame): Unit = releaseLeaf(df.queryExecution.logical)

  /** [[release]] on the checkpoint's leaf plan itself; [[PrefixSum]]
    * reaches its own checkpoint under its output's projections. */
  private[ops] def releaseLeaf(plan: LogicalPlan): Unit = plan match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = true); ()
    case other => throw new IllegalArgumentException(
      s"Materialize.release: not a checkpointed frame (${other.nodeName})")
  }
}
