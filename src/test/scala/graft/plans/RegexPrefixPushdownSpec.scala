package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class RegexPrefixPushdownSpec extends SparkSpec {

  test("literalPrefix extraction") {
    assert(RegexPrefixPushdown.literalPrefix("^logs/2024/.*\\.log") ==
      Some("logs/2024/"))
    assert(RegexPrefixPushdown.literalPrefix("^abc") == Some("abc"))
    assert(RegexPrefixPushdown.literalPrefix("abc") == None)       // unanchored
    assert(RegexPrefixPushdown.literalPrefix("^.*x") == None)      // no literal head
    assert(RegexPrefixPushdown.literalPrefix("^ab?c") == Some("a")) // quantifier binds 'b'
    assert(RegexPrefixPushdown.literalPrefix("^a\\d+") == Some("a")) // escape stops scan
  }

  test("anchored rlike gains a pushed StringStartsWith filter") {
    import spark.implicits._
    val df = Tables.documents(spark, sfDir)
      .select(concat(lit("data/"), col("source"), lit("/doc_"),
        col("doc_id"), lit(".txt")).as("path"), col("doc_id"))
      .write.mode("overwrite")
      .parquet("/tmp/rpp_ns.parquet")
    val ns = spark.read.parquet("/tmp/rpp_ns.parquet")
    val q = ns.filter(col("path").rlike("^data/src1/doc_1.*\\.txt"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("StringStartsWith(path,data/src1/doc_1"), scan)
    // correctness: rewrite is semantics-preserving
    val want = ns.collect().map(_.getString(0))
      .filter(p => java.util.regex.Pattern.compile("^data/src1/doc_1.*\\.txt")
        .matcher(p).find()).sorted.toSeq
    val got = q.select("path").as[String].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("rule is idempotent (fixed-point safe)") {
    val df = Tables.documents(spark, sfDir)
      .select(col("source").as("s"))
      .filter(col("s").rlike("^src1"))
    val once = RegexPrefixPushdown(df.queryExecution.analyzed)
    val twice = RegexPrefixPushdown(once)
    assert(once fastEquals twice)
  }

  test("top-level alternation is NOT rewritten (would drop rows)") {
    assert(RegexPrefixPushdown.literalPrefix("^logs/|tmp/") == None)
    import spark.implicits._
    val df = Seq("logs/a", "tmp/x", "other").toDF("p")
    val got = df.filter(col("p").rlike("^logs/|tmp/"))
      .as[String].collect().toSet
    assert(got == Set("logs/a", "tmp/x"))
  }
}
