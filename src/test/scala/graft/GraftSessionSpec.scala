package graft

import graft.plans.RegexPrefixPushdown
import org.apache.spark.sql.catalyst.expressions.StartsWith

/** The one session factory: Bench's settings, and the engine's SQL
  * functions and optimizer rule present from the first query on. */
class GraftSessionSpec extends SparkSpec {

  /** `graft.Bench`'s session settings before the factory existed,
    * written out literally so a drift in the factory fails here. */
  private def benchConf(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> s"$cores",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.warehouse.dir" -> Warehouse.dir)

  test("factory settings are Bench's key/value set") {
    Seq(1, 4, 32).foreach { c =>
      val conf = GraftSession.conf(c)
      assert(conf.map(_._1).distinct.size == conf.size)
      assert(conf.toMap == benchConf(c))
    }
  }

  test("the live test session carries the factory settings") {
    benchConf(TestSpark.Cores).foreach { case (k, want) =>
      // Spark qualifies the warehouse path with its file: scheme
      assert(spark.conf.get(k).stripPrefix("file:") == want, k)
    }
  }

  // A new session shares the SparkContext and the builder's extensions
  // but none of the live session's runtime registrations, so it sees
  // only what the factory installed.

  test("regexp_replace_first resolves in SQL before any query runs") {
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT regexp_replace_first('a.b.c', '\\\\.', '_1.')")
      .head().getString(0) == "a_1.b.c")
  }

  test("the pushdown rule is installed before any query runs") {
    val fresh = spark.newSession()
    val optimizer = fresh.sessionState.optimizer
    assert(optimizer.extendedOperatorOptimizationRules
      .contains(RegexPrefixPushdown))
    val plan = fresh.range(3).selectExpr("CAST(id AS STRING) AS s")
      .filter("s RLIKE '^ab.*'").queryExecution.optimizedPlan
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[StartsWith]))),
      plan)
    // register on a factory session adds no second copy of the rule
    GraftExtensions.register(fresh)
    assert(fresh.sessionState.experimentalMethods.extraOptimizations.isEmpty)
  }
}
