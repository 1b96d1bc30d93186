package graft.ops

import graft.SparkSpec
import graft.ext.Robots
import org.apache.spark.sql.functions._

/** Crawl-delay parsing (group semantics, hostile values) and the
  * frontier plan's wave/slot arithmetic. */
class FrontierSpec extends SparkSpec {
  import spark.implicits._

  test("crawlDelays: exact group shadows *, max of selected groups") {
    val robots = Seq(
      ("a.example", "User-agent: mybot\nCrawl-delay: 7\n" +
        "User-agent: *\nCrawl-delay: 1"),
      ("b.example", "User-agent: *\nCrawl-delay: 2.5"),
      // two groups both naming mybot -> most conservative wins
      ("c.example", "User-agent: mybot\nCrawl-delay: 3\n" +
        "User-agent: mybot\nCrawl-delay: 9"),
      // unparseable and negative delays are ignored
      ("d.example", "User-agent: *\nCrawl-delay: fast\n" +
        "User-agent: *\nCrawl-delay: -4"),
      ("e.example", "User-agent: other\nCrawl-delay: 5"))
      .toDF("host", "robots_txt")
    val got = Robots.crawlDelays(robots, "mybot").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a.example" -> 7.0, "b.example" -> 2.5,
      "c.example" -> 9.0)) // d unparseable, e other-agent-only: absent
  }

  test("sitemaps: group-independent, distinct, full URL value kept") {
    val robots = Seq(
      ("a.example", "Sitemap: https://a.example/s1.xml\n" +
        "User-agent: *\nDisallow: /\n" +
        "Sitemap: https://a.example/s1.xml\n" +
        "Sitemap: https://a.example/s2.xml"))
      .toDF("host", "robots_txt")
    val got = Robots.sitemaps(robots).collect()
      .map(_.getString(1)).sorted.toSeq
    assert(got == Seq("https://a.example/s1.xml",
      "https://a.example/s2.xml"))
  }

  test("plan: waves sequence per host, slots honor per-host delay") {
    val urls = Seq(
      (0L, 30L, "a.example", "https://a.example/x"),
      (1L, 20L, "a.example", "https://a.example/y"),
      (2L, 10L, "a.example", "https://a.example/z"),
      (3L, 99L, "b.example", "https://b.example/only"))
      .toDF("id", "prio", "host", "url")
    val delays = Seq(("a.example", 4.0)).toDF("host", "crawl_delay_sec")
    val got = Frontier.plan(urls, delays,
        orderBy = Seq(col("prio").desc, col("id")))
      .select("id", "fetch_wave", "slot_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (0L, 0L, 0.0), (1L, 1L, 4.0), (2L, 2L, 8.0), // delay 4 paces a
      (3L, 0L, 0.0))) // b: no delay row -> default, wave 0 anyway
  }

  test("plan: equal priorities are deterministically tie-broken") {
    val urls = (0L until 20L)
      .map(i => (i, 5L, "a.example", s"https://a.example/$i"))
      .toDF("id", "prio", "host", "url")
    val delays = Seq.empty[(String, Double)].toDF("host", "crawl_delay_sec")
    val a = Frontier.plan(urls.repartition(3), delays,
        Seq(col("prio").desc, col("id")))
      .select("id", "fetch_wave").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Frontier.plan(urls.repartition(7), delays,
        Seq(col("prio").desc, col("id")))
      .select("id", "fetch_wave").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a.values.toSeq.sorted == (0L until 20L))
  }

  private def cutFixture = {
    // host a: 4 urls of 100 bytes; host b: 4 urls of 300 bytes
    val urls = (0L until 8L).map { i =>
      val host = if (i % 2 == 0) "a.example" else "b.example"
      val bytes = if (i % 2 == 0) 100L else 300L
      (i, 10L - i, bytes, host, s"https://$host/$i")
    }.toDF("id", "prio", "bytes", "host", "url")
    val delays = Seq.empty[(String, Double)].toDF("host", "crawl_delay_sec")
    Frontier.plan(urls, delays, Seq(col("prio").desc, col("id")))
  }

  test("budgetCut: per-host budget is an inclusive hard cap; the wave " +
    "cap and byte budget each bind where they bind") {
    // host budget 650: a keeps 4 urls (cum 400), b keeps 2 (cum 600,
    // third would hit 900); global budget large enough to not bind
    val got = Frontier.budgetCut(cutFixture, "bytes",
        hostMaxUrls = 10, hostBudget = 650, globalBudget = 100000,
        tieBreak = Seq(col("id")))
      .select("id", "host_cum", "global_cum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((0L, 100L), (1L, 300L), (2L, 200L), (3L, 600L),
      (4L, 300L), (6L, 400L)), got.toString)
    // wave cap 1: exactly one url per host survives
    val waved = Frontier.budgetCut(cutFixture, "bytes",
        hostMaxUrls = 1, hostBudget = 100000, globalBudget = 100000,
        tieBreak = Seq(col("id")))
      .select("id").as[Long].collect().sorted.toSeq
    assert(waved == Seq(0L, 1L))
  }

  /** Replay the global prefix cut in plain Scala: walk the plan in the
    * global fetch order, keep while the inclusive running cost fits. */
  private def replayGlobalCut(budget: Long): Seq[(Long, Long)] = {
    import org.apache.spark.sql.Row
    val ordered = cutFixture
      .orderBy(col("slot_sec"), col("fetch_wave"), col("fetch_tie"),
        col("id"))
      .select("id", "bytes").collect().toSeq
    var acc = 0L
    ordered.flatMap { case Row(id: Long, b: Long) =>
      acc += b
      if (acc <= budget) Some(id -> acc) else { acc -= b; None }
    }
  }

  test("budgetCut: global budget cuts in the global fetch order and " +
    "the boundary is inclusive") {
    val got = Frontier.budgetCut(cutFixture, "bytes",
        hostMaxUrls = 10, hostBudget = 100000, globalBudget = 800,
        tieBreak = Seq(col("id")))
      .select("id", "global_cum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // replay stops at the first item that would overflow: no skip-ahead
    val first = {
      val ordered = cutFixture
        .orderBy(col("slot_sec"), col("fetch_wave"), col("fetch_tie"),
          col("id"))
        .select("id", "bytes").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      var acc = 0L
      ordered.takeWhile { case (_, b) => acc += b; acc <= 800L }
        .map(_._1).toSet
    }
    assert(got.map(_._1).toSet == first, got.toString)
    assert(got.nonEmpty && got.map(_._2).max <= 800L)
    // partition-independence of the cut boundary
    val a = Frontier.budgetCut(cutFixture.repartition(5), "bytes",
        10, 100000, 800, Seq(col("id")))
      .select("id").as[Long].collect().sorted.toSeq
    assert(a == got.map(_._1).sorted, a.toString)
  }

  test("budgetCut: an item larger than the remaining budget stops the " +
    "scope (no skip-ahead), and bad budgets are rejected") {
    val expect = replayGlobalCut(450L)
    val got = Frontier.budgetCut(cutFixture, "bytes",
        hostMaxUrls = 10, hostBudget = 100000, globalBudget = 450,
        tieBreak = Seq(col("id")))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == expect.map(_._1).sorted, got.toString)
    // a 100-byte item always exists later in the order, so if the cut
    // skipped ahead past the first overflow the sets would differ:
    // replayed size must be strictly below the full 8 and nonzero
    assert(expect.size > 0 && expect.size < 8)
    intercept[IllegalArgumentException] {
      Frontier.budgetCut(cutFixture, "bytes", 0, 1, 1, Seq(col("id")))
    }
    intercept[IllegalArgumentException] {
      Frontier.budgetCut(cutFixture, "bytes", 1, 1, 1, Seq.empty)
    }
  }

  test("plan contract: one host-keyed exchange, delays broadcast") {
    val urls = Seq((0L, 5L, "a.example", "https://a.example/x"))
      .toDF("id", "prio", "host", "url")
    val delays = Seq(("a.example", 2.0)).toDF("host", "crawl_delay_sec")
    val df = Frontier.plan(urls, delays, Seq(col("prio").desc, col("id")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(graft.ops.PlanChecks.shuffleExchanges(df) == 1, plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
