package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory behind `Bench`, `Verify`, `Dev` and the
  * test suite, so a dev profile, the correctness dump and the bench all
  * run under the same session. `cli.BlueprintCli` keeps its own
  * builder: its master comes from spark-submit.
  */
object GraftSession {

  /** Local cores: `$SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The session conf at `cores` local cores. */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    // window/bucket boundaries on event timestamps are session-TZ
    // dependent — the bench must time the SAME plans the correctness
    // gate verifies
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // STATIC conf, so it must land before the session exists: the
    // default codegen class cache holds only 100 entries, and a full
    // bench compiles far more generated classes than that — under
    // eviction a query's cost swings with whatever ran before it (r9's
    // 3.0<->7.2s pipeline_html_curate spread). Sized past the whole
    // suite so per-query timings measure the query, not cache luck. A
    // cache bound only: it changes no result.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // managed (bucketed) tables land in tmp, never in the repo tree;
    // pid-suffixed so concurrent JVMs can't clobber each other's
    "spark.sql.warehouse.dir" -> Warehouse.dir)

  /** Builds (or returns the live) session with [[conf]] and the
    * engine's SQL functions and optimizer rule ([[GraftExtensions]])
    * installed from the first query on. */
  def build(cores: Int = envCores): SparkSession = {
    val spark = conf(cores)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // ERROR, not WARN: executor-thread WARNs land on stderr interleaved
    // with stdout in a harness capture and can push Bench's result line
    // out of its 2000-char tail window
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
