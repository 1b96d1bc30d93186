package layerbench

import graft.Blueprints
import graft.Blueprints.Report
import graft.catalog.FileCatalog
import graft.functions.PathAlg
import graft.ops._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The calls the workloads make, with a span around each call into a
  * layer when tracing is on.
  *
  * `Blueprints.upload` composes scan, match, rename and transfer in a
  * private method, so a traced upload calls the same public pieces in the
  * same order instead: `FileCatalog.list` -> `RegexMatch.predicate` ->
  * `RenamePlan.planify` -> manifest count -> `Transfer.copyFiles`.
  * Untraced, it is `Blueprints.upload` itself. */
final class Calls(spark: SparkSession, spans: Spans) {

  def query[T](name: String)(body: => T): T = spans("queries", s"q.$name")(body)

  /** `files` is the number of files under the scanned folder, which the
    * trace uses to count files listed. */
  def upload(src: String, folder: String, pattern: String, dst: String,
      dstFolder: String, dstName: Option[String], execute: Boolean,
      files: Long): Report =
    spans("blueprints", "Blueprints.upload", files) {
      if (!spans.enabled)
        Blueprints.upload(spark, src, folder, RegexMatch(pattern), dst,
          dstFolder, dstName, execute)
      else {
        val clean = PathAlg.cleanFolderName(folder)
        val catalog = spans("catalog", "FileCatalog.list") {
          FileCatalog.list(spark, src, prefix = if (clean.isEmpty) "" else clean + "/")
        }.filter(RegexMatch(pattern).predicate(col("name")))
        val planned = spans("rename", "RenamePlan.planify") {
          RenamePlan.planify(catalog, destFolder = dstFolder,
            destName = dstName, numbering = RenamePlan.Numbering.Always)
        }
        val root = if (dst.endsWith("/")) dst else dst + "/"
        val manifest = planned.select(col("path").as("src_path"),
          concat(lit(root), col("dest_path")).as("dest_path"))
        val n = manifest.count()
        if (execute)
          spans("transfer", "Transfer.copyFiles")(Transfer.copyFiles(manifest))
        Report(n, manifest)
      }
    }
}
