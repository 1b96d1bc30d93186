package graft.ops

import graft.ext.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-frontier politeness scheduler: turns a URL frontier into a
  * deterministic fetch plan that (a) sequences each host's URLs in
  * caller-defined priority order, (b) spreads hosts out so early fetch
  * waves maximize host diversity (a frontier sorted by priority alone
  * hammers one host), and (c) honors per-host `Crawl-delay` budgets
  * ([[graft.ext.Robots.crawlDelays]]) by computing each URL's earliest
  * polite fetch slot.
  *
  * Columns added:
  *  - `fetch_wave` — 0-based position within the URL's host (a wave-k
  *    URL is that host's (k+1)-th fetch);
  *  - `slot_sec`  — `fetch_wave * crawl_delay_sec` (default delay for
  *    hosts without one): the earliest polite start time relative to
  *    the crawl epoch — the per-host rate limit made explicit;
  *  - `fetch_tie` — a stable URL hash that interleaves hosts fairly
  *    within equal slots.
  *
  * The global fetch order is (slot_sec, fetch_wave, fetch_tie).
  * Scale shape: one window over host (the shuffle is host-keyed —
  * exactly the partitioning a fetcher fleet wants anyway) plus one
  * broadcastable join for delays. No global sort is imposed here: the
  * triple is a range-partitionable ORDER KEY, so a 100 TB frontier
  * sorts only when (and where) it is written.
  */
object Frontier {

  /** Build the fetch plan. `orderBy` is the within-host priority order
    * (include a unique tiebreak column for determinism). `delays` is
    * (host, crawl_delay_sec); hosts absent from it use
    * `defaultDelaySec`. */
  def plan(urls: DataFrame, delays: DataFrame, orderBy: Seq[Column],
      urlCol: String = "url", hostCol: String = "host",
      defaultDelaySec: Double = 1.0): DataFrame = {
    require(orderBy.nonEmpty, "orderBy must name the within-host priority")
    require(defaultDelaySec >= 0, s"negative default delay: $defaultDelaySec")
    val wave = row_number()
      .over(Window.partitionBy(col(hostCol)).orderBy(orderBy: _*)) - 1
    urls
      .join(broadcast(delays), Seq(hostCol), "left_outer")
      .withColumn("fetch_wave", wave.cast("long"))
      .withColumn("slot_sec", col("fetch_wave") *
        coalesce(col("crawl_delay_sec"), lit(defaultDelaySec)))
      .withColumn("fetch_tie", TextAnalysis.tokenHash31(col(urlCol)))
      .drop("crawl_delay_sec")
  }

  /** Budget cut over a [[plan]]: a real crawler fetches under BOTH a
    * per-host budget (politeness × storage fairness — no host may
    * dominate the corpus) and a global budget (the crawl's total
    * byte/URL allowance). Composes two prefix sums:
    *
    *  1. per-host: inclusive running `costCol` within the host in
    *     fetch-wave order (`host_cum`) — a window over the SAME
    *     host-keyed shuffle [[plan]] already produced (no new
    *     partitioning); keep while `fetch_wave < hostMaxUrls` and
    *     `host_cum <= hostBudget`;
    *  2. global: inclusive running cost over the survivors in the
    *     global fetch order `(slot_sec, fetch_wave, fetch_tie,
    *     tieBreak…)` (`global_cum`) via the DISTRIBUTED prefix sum
    *     ([[PrefixSum.withRunningTotal]] — one scan of the range-
    *     partitioned, sorted input + a ≤numPartitions-value driver
    *     offset pass, never a window); keep while `global_cum <=
    *     globalBudget`.
    *
    * Budgets are hard caps: an item whose cost alone exceeds the
    * remaining budget drops (and, the sums being inclusive prefix
    * sums, everything after it in that scope drops too — the crawl
    * stops where the allowance runs out, it does not skip ahead).
    * `tieBreak` must make the global order total (pass a unique id)
    * or the cut boundary is partition-dependent. */
  def budgetCut(plan: DataFrame, costCol: String, hostMaxUrls: Long,
      hostBudget: Long, globalBudget: Long,
      tieBreak: Seq[Column], hostCol: String = "host"): DataFrame = {
    require(hostMaxUrls > 0, s"budgetCut: hostMaxUrls ($hostMaxUrls)")
    require(hostBudget > 0, s"budgetCut: hostBudget ($hostBudget)")
    require(globalBudget > 0, s"budgetCut: globalBudget ($globalBudget)")
    require(tieBreak.nonEmpty,
      "budgetCut: tieBreak must make the global fetch order total")
    val w = Window.partitionBy(col(hostCol)).orderBy(col("fetch_wave"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hostCut = plan
      .withColumn("host_cum", sum(col(costCol).cast("long")).over(w))
      .filter(col("fetch_wave") < hostMaxUrls &&
        col("host_cum") <= hostBudget)
    PrefixSum.withRunningTotal(hostCut, "global_cum",
        col(costCol).cast("long"),
        Seq(col("slot_sec"), col("fetch_wave"), col("fetch_tie")) ++
          tieBreak)
      .filter(col("global_cum") <= globalBudget)
  }
}
