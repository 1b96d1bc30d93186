package graft.ops

import org.apache.spark.sql.DataFrame

/** Plan contracts as assertions — the scale audit (SURVEY §4, SCALE.md)
  * turned into CI guarantees. A query whose physical plan regresses
  * (lost pushdown, a surprise cartesian, a shuffle where a broadcast
  * belongs) should fail a test, not wait for the next manual
  * `.explain` read. String-based on the EXECUTED plan (post-AQE
  * structure for the static checks; cheap, version-tolerant, and
  * exactly what a reviewer greps for).
  */
object PlanChecks {

  def executedPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Fails on `CartesianProduct` — the unbounded pair blowup. Broadcast
    * nested-loop joins are NOT flagged: their build side is a
    * broadcast, i.e. something the planner already sized as small. */
  def assertNoCartesian(df: DataFrame): Unit = {
    val plan = executedPlan(df)
    if (plan.contains("CartesianProduct"))
      throw new IllegalStateException(
        s"plan contract violated: CartesianProduct present\n$plan")
  }

  /** Fails unless some scan pushes a filter mentioning `fragment`
    * (e.g. a column name or `EqualTo(col,value)`). */
  def assertPushedFilter(df: DataFrame, fragment: String): Unit = {
    val plan = executedPlan(df)
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters: ["))
      .mkString("\n")
    if (!pushed.contains(fragment))
      throw new IllegalStateException(
        s"plan contract violated: no pushed filter matches '$fragment'" +
          s"\npushed: $pushed")
  }

  /** Fails unless the plan joins via broadcast (hash or nested-loop) —
    * the small-dim star-join contract. */
  def assertBroadcastJoin(df: DataFrame): Unit = {
    val plan = executedPlan(df)
    if (!plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"))
      throw new IllegalStateException(
        s"plan contract violated: no broadcast join\n$plan")
  }

  /** Fails if the number of shuffle exchanges exceeds `max` — the
    * shuffle-budget contract for a pipeline stage. */
  def assertExchangesAtMost(df: DataFrame, max: Int): Unit = {
    val plan = executedPlan(df)
    val n = plan.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange") &&
        !l.contains("ReusedExchange"))
    if (n > max)
      throw new IllegalStateException(
        s"plan contract violated: $n shuffle exchanges (max $max)\n$plan")
  }

  /** Fails unless at least one whole-stage-codegen stage fused `op`
    * (the `*(n) Op` prefix in executedPlan). Runs the query first:
    * under AQE the pre-execution plan string carries no codegen
    * markers (`isFinalPlan=false`), so this is the one check that
    * must observe the FINAL plan. */
  def assertCodegenFused(df: DataFrame, op: String): Unit = {
    val qe = df.queryExecution
    qe.toRdd.foreachPartition(_ => ()) // finalize AQE + codegen ids
    val plan = qe.executedPlan.toString
    val fused = plan.linesIterator.exists(l =>
      l.trim.matchesRegexForFusion(op))
    if (!fused)
      throw new IllegalStateException(
        s"plan contract violated: '$op' not inside WholeStageCodegen\n$plan")
  }

  /** Fails on any `Window` operator. A WindowExec gives each key ONE
    * task; over a corpus-scale frame keyed by a low-cardinality column
    * (`source` has a handful of values) that is a single-task sort
    * funnel at 100 TB. Queries that replaced such windows with the
    * [[PrefixSum]] grouped ordinal assert this so a refactor cannot
    * silently reintroduce one. (`WindowGroupLimit` nodes are not
    * windows and don't match.) */
  def assertNoWideWindow(df: DataFrame): Unit = {
    val plan = executedPlan(df)
    val bad = plan.linesIterator.filter(_.contains("Window [")).toList
    if (bad.nonEmpty)
      throw new IllegalStateException(
        "plan contract violated: Window — a per-key single-task " +
          "sort funnel:\n" + bad.mkString("\n") +
          s"\nfull plan:\n$plan")
  }

  /** Fails unless the plan carries a `WindowGroupLimit` — Spark 4's
    * rank-limit pushdown, the ONLY reason a low-cardinality
    * `row_number ... WHERE rn <= k` window is scale-safe (partial
    * per-partition limits run before the window exchange, so each
    * task keeps ≤ k rows per key instead of sorting the whole key).
    * Asserted on the demo queries that rely on it, so a refactor to a
    * non-top-k filter (which silently loses the pushdown) fails CI. */
  def assertWindowGroupLimit(df: DataFrame): Unit = {
    val plan = executedPlan(df)
    if (!plan.contains("WindowGroupLimit"))
      throw new IllegalStateException(
        "plan contract violated: no WindowGroupLimit — the rank " +
          s"filter no longer plans as a top-k pushdown\n$plan")
  }

  private implicit class FusionRegex(private val line: String)
      extends AnyVal {
    def matchesRegexForFusion(op: String): Boolean =
      line.matches(raw".*\*\(\d+\)\s.*" + java.util.regex.Pattern.quote(op)
        + ".*")
  }

  /** Number of shuffle exchanges in the EXECUTED plan (AQE-final —
    * call after an action so the adaptive plan is settled). The
    * bucketed-join contract is that this is ZERO for the join stage. */
  def shuffleExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan)
      case e: ShuffleExchangeLike => 1 + e.children.map(count).sum
      case other => other.children.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }
}
