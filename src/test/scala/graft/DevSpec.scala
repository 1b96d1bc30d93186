package graft

import java.io.ByteArrayOutputStream

/** `graft.Dev.run` on the shared session (it must not stop it). */
class DevSpec extends SparkSpec {

  private val q = "q1_pricing_agg"

  /** (exit code, captured stdout) of one `Dev.run`. */
  private def dev(args: String*): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(buf)(Dev.run(spark, args, Some(sfDir)))
    (code, buf.toString("UTF-8"))
  }

  test("times prints one line per query with one time per rep") {
    val (code, out) = dev("times", "2", q)
    assert(code == 0, out)
    val line = out.linesIterator.find(_.startsWith(s"[times] $q"))
    assert(line.exists(_.split("\\s+").length == 4), out)
  }

  test("plan prints the formatted physical plan") {
    val (code, out) = dev("plan", q)
    assert(code == 0, out)
    assert(out.contains(s"========== $q ==========") &&
      out.contains("== Physical Plan =="), out)
  }

  test("jobs prints the warm run's jobs and its total") {
    val (code, out) = dev("jobs", q)
    assert(code == 0, out)
    assert(out.linesIterator.exists(_.startsWith(s"[jobs] $q job=")), out)
    assert(out.contains(s"[jobs] TOTAL $q"), out)
    assert(!spark.sparkContext.isStopped)
  }

  test("an unknown subcommand or query is a usage error (exit 2)") {
    assert(dev()._1 == 2)
    assert(dev("bogus")._1 == 2)
    assert(dev("scale")._1 == 2)
    Seq("times", "jobs", "plan").foreach { cmd =>
      assert(dev(cmd, "no_such_query")._1 == 2, cmd)
    }
    assert(dev("times", "3", q, "no_such_query")._1 == 2)
  }
}
