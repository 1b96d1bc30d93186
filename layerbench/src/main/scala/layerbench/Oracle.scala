package layerbench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the hot-set queries to a JSON file;
  * `make_digests.py` turns it into the digests stored with the benchmark.
  *
  * Usage: Oracle <out.json> */
object Oracle {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = CurationHotset.Queries
      .map(q => quote(q) + ":" + quote(sql(q))).mkString("{", ",\n", "}\n")
    Files.write(Paths.get(args(0)), json.getBytes("UTF-8"))
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
