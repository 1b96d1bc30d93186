package graft

import org.apache.spark.graftx.CountJobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only profiling CLI, on the same [[GraftSession]] that `Bench`
  * times:
  *
  * {{{
  * runMain graft.Dev times [reps] [query ...]  per-rep wall times (3 reps)
  * runMain graft.Dev jobs [query ...]   warm-run jobs, stages, tasks, shuffle
  * runMain graft.Dev plan [query ...]   formatted physical plans
  * runMain graft.Dev scale sfDir ...    ScaleCurve growth exponents
  * }}}
  *
  * Queries read `$SPARK_GRAFT_SF_DIR`. No query names means every query
  * (for `plan`, five representative ones). `plan` writes
  * `<query>.txt` under `$SPARK_GRAFT_PLAN_DIR` when that is set, and
  * prints to stdout otherwise.
  */
object Dev {

  val Usage: String =
    "usage: graft.Dev times [reps] [query ...] | jobs [query ...] | " +
      "plan [query ...] | scale sfDir [sfDir ...]"

  private val PlanDefaults = Seq("q1_pricing_agg", "q2_filter_project",
    "q5_region_revenue", "ann_topk_bruteforce", "dedup_minhash_lsh")

  /** Runs one subcommand on `spark` without stopping it; returns the
    * exit code (0 ok, 1 a query failed, 2 usage error). */
  def run(spark: SparkSession, args: Seq[String],
      sfDir: Option[String] = sys.env.get("SPARK_GRAFT_SF_DIR")): Int =
    args match {
      case Seq("scale") => usage("scale needs at least one sf directory")
      case Seq("scale", dirs @ _*) => ScaleCurve.run(spark, dirs); 0
      case Seq(cmd @ ("times" | "jobs" | "plan"), rest @ _*) =>
        val hasReps = cmd == "times" && rest.headOption.exists(r =>
          r.nonEmpty && r.forall(_.isDigit))
        val reps = if (hasReps) rest.head.toInt else 3
        val given = if (hasReps) rest.tail else rest
        val names =
          if (given.nonEmpty) given
          else if (cmd == "plan") PlanDefaults
          else SparkEntry.queries.keys.toSeq.sorted
        val unknown = names.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) usage(s"unknown queries: ${unknown.mkString(", ")}")
        else sfDir match {
          case None => usage("set SPARK_GRAFT_SF_DIR to an sf directory")
          case Some(dir) =>
            spark.range(1000).selectExpr("sum(id)").collect()
            val ok = cmd match {
              case "times" => times(spark, dir, names, reps)
              case "jobs" => jobs(spark, dir, names)
              case "plan" => plan(spark, dir, names); true
            }
            if (ok) 0 else 1
        }
      case _ => usage(Usage)
    }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val code = try run(spark, args.toSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  private def usage(msg: String): Int = { System.err.println(msg); 2 }

  /** Runs query `name` into the noop sink (full evaluation of every
    * column, like Bench), then drops the caches it handed to its caller;
    * returns the wall seconds, or None after reporting a failure. */
  private def timed(spark: SparkSession, dir: String,
      name: String): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[dev] $name failed: ${e.getMessage}")
      None
    } finally spark.catalog.clearCache()
  }

  /** Per-rep wall times per query; the first rep is the cold one. */
  private def times(spark: SparkSession, dir: String, names: Seq[String],
      reps: Int): Boolean =
    names.map { n =>
      val ts = (1 to reps).flatMap(_ => timed(spark, dir, n))
      println(f"[times] $n%-34s ${ts.map(t => f"$t%.2f").mkString(" ")}")
      ts.size == reps
    }.forall(identity)

  /** One cold and one recorded warm run per query: prints the warm run's
    * jobs (wall ms, stage count, call site) and its totals, then — when
    * more than one query ran — the totals sorted by wall time, stages
    * and shuffle read. Stage count ~ exchanges + scans, so the stages
    * table names the overhead-dominated plans. */
  private def jobs(spark: SparkSession, dir: String,
      names: Seq[String]): Boolean = {
    final case class Row(name: String, sec: Double, jobs: Long,
        stages: Long, tasks: Long, readKiB: Long, writeKiB: Long) {
      override def toString: String =
        f"$name%-34s $sec%6.2f s  j=$jobs%-3d st=$stages%-4d tk=$tasks%-5d " +
          f"shR=$readKiB%7d KiB shW=$writeKiB%7d KiB"
    }
    val rows = names.flatMap { n =>
      timed(spark, dir, n)
      val (sec, c) = CountJobs.census(timed(spark, dir, n))
      sec.map { s =>
        c.jobLines.foreach(l => println(s"[jobs] $n $l"))
        val r = Row(n, s, c.jobs, c.stages, c.tasks,
          c.shuffleReadBytes / 1024, c.shuffleWriteBytes / 1024)
        println(s"[jobs] TOTAL $r")
        r
      }
    }
    if (rows.size > 1) {
      def table(title: String, sorted: Seq[Row]): Unit = {
        println(s"\n==== by $title ====")
        sorted.take(40).foreach(println)
      }
      table("warm seconds", rows.sortBy(-_.sec))
      table("stages", rows.sortBy(-_.stages))
      table("shuffle read", rows.sortBy(-_.readKiB))
    }
    rows.size == names.size
  }

  /** `explain("formatted")` text per query, built under the bench's
    * session so it is the plan the bench times. */
  private def plan(spark: SparkSession, dir: String,
      names: Seq[String]): Unit = {
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_DIR").map(java.nio.file.Paths.get(_))
    outDir.foreach(java.nio.file.Files.createDirectories(_))
    names.foreach { n =>
      val txt = SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(FormattedMode)
      outDir match {
        case Some(d) =>
          val f = d.resolve(s"$n.txt")
          java.nio.file.Files.write(f, txt.getBytes("UTF-8"))
          println(s"[plan] wrote $f")
        case None => println(s"\n========== $n ==========\n$txt")
      }
      spark.catalog.clearCache()
    }
  }
}
