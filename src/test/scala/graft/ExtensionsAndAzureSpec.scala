package graft

import graft.catalog.AzureConf
import graft.ops.BlueprintError
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsAndAzureSpec extends AnyFunSuite {

  // GraftSession.build installs the extensions
  lazy val spark: SparkSession = TestSpark.spark

  test("regexp_replace_first available from SQL with reference semantics") {
    val got = spark.sql(
      """SELECT regexp_replace_first('a.tar.gz', '\\.', '_2.') AS r"""
    ).collect()(0).getString(0)
    assert(got == "a_2.tar.gz")
  }

  test("long_array_dot available from SQL") {
    val got = spark.sql(
      "SELECT long_array_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d"
    ).collect()(0).getLong(0)
    assert(got == 32L)
  }

  test("word_shingles available from SQL") {
    val got = spark.sql(
      "SELECT word_shingles('a b c d', 2) AS s"
    ).collect()(0).getSeq[String](0)
    assert(got == Seq("a b", "b c", "c d"))
    val err = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b', 1 + 1)").collect()
    }
    assert(err.getMessage.contains("integer literal") ||
      Option(err.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("word_grams available from SQL (repeats kept)") {
    val got = spark.sql(
      "SELECT word_grams('x y x y', 2) AS g"
    ).collect()(0).getSeq[String](0)
    assert(got == Seq("x y", "y x", "x y"))
  }

  test("regexp_replace_first stays inside whole-stage codegen") {
    val plan = spark.sql(
      """SELECT regexp_replace_first(CAST(id AS STRING), '0', 'x') FROM range(10)"""
    ).queryExecution.executedPlan.toString
    // '*' prefix marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l =>
      l.contains("*(1) Project") && l.contains("regexp_replace_first")), plan)
  }

  test("AzureConf parses connection strings and installs account keys") {
    val c = AzureConf(spark,
      "DefaultEndpointsProtocol=https;AccountName=acct1;" +
        "AccountKey=a2V5Cg==;EndpointSuffix=core.windows.net")
    assert(c.accountName == "acct1")
    assert(c.abfss("data", "in/f.csv") ==
      "abfss://data@acct1.dfs.core.windows.net/in/f.csv")
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.azure.account.key.acct1.dfs.core.windows.net") == "a2V5Cg==")
    assert(hc.get("fs.azure.account.key.acct1.blob.core.windows.net") == "a2V5Cg==")
  }

  test("AzureConf rejects a string without credentials (exit code 3)") {
    val e = intercept[BlueprintError.IncorrectCredentials] {
      AzureConf.parse("DefaultEndpointsProtocol=https;AccountName=only")
    }
    assert(e.exitCode == 3)
  }
}
