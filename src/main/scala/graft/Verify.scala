package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build()
    // schema contract first: a regenerated fixture reports HERE with one
    // named (table, column, expected, found) diff instead of scattering
    // analysis errors across every query that touches the drifted column.
    // Report-and-continue (not die): queries over undrifted tables still
    // produce verifiable results — the report names exactly which
    // failures that follow are fixture drift, not engine bugs
    try Tables.validate(spark, sfDir)
    catch { case e: IllegalStateException =>
      System.err.println(s"[verify] SCHEMA CONTRACT: ${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the dump to named
    // queries (unset in the driver => full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally
        // queries that persist() internal stages (a PQ model's slice
        // table) delegate the cache lifetime to their caller (see
        // Bench) — drop between queries
        spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
