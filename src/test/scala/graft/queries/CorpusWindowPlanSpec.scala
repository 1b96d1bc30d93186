package graft.queries

import graft.{SparkSpec, SparkEntry, Tables}
import graft.ops.PlanChecks

/** Window-funnel plan contracts (round-17 verdict #1/#5).
  *
  * Two families of corpus-scale queries key windows by low-cardinality
  * columns, and each is scale-safe for a DIFFERENT machine-checkable
  * reason:
  *
  *  - `pipeline_ccnet_buckets` / `train_dpo_pairs` /
  *    `pipeline_dpo_shards` eliminated their `source`-keyed windows
  *    outright (PrefixSum grouped ordinals + arithmetic ntile /
  *    pair-key aggs) — asserted via [[PlanChecks.assertNoWideWindow]]
  *    so a refactor cannot quietly reintroduce a per-source
  *    single-task sort.
  *  - `q7_window_rank` / `q19_group_sample` KEEP their windows but are
  *    safe only because their `rn <= 3` filters plan through Spark 4's
  *    `WindowGroupLimit` rank-limit pushdown (partial per-partition
  *    top-k before the window exchange) — asserted via
  *    [[PlanChecks.assertWindowGroupLimit]] so a change to a non-top-k
  *    predicate (which silently loses the pushdown) fails here.
  */
class CorpusWindowPlanSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("ccnet terciles: no low-cardinality WindowExec (grouped " +
    "ordinal + arithmetic ntile)") {
    PlanChecks.assertNoWideWindow(q("pipeline_ccnet_buckets"))
  }

  test("dpo pairing: no low-cardinality WindowExec (grouped ordinal " +
    "+ pair-key agg)") {
    PlanChecks.assertNoWideWindow(q("train_dpo_pairs"))
  }

  test("dpo shards: the inherited pairing stays window-free") {
    PlanChecks.assertNoWideWindow(q("pipeline_dpo_shards"))
  }

  test("q7_window_rank: rn <= 3 plans as WindowGroupLimit pushdown") {
    PlanChecks.assertWindowGroupLimit(q("q7_window_rank"))
  }

  test("q19_group_sample: rn <= 3 plans as WindowGroupLimit pushdown") {
    PlanChecks.assertWindowGroupLimit(q("q19_group_sample"))
  }
}
