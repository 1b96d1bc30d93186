package graft

import graft.catalog.FileCatalog
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing surface of the engine: one entry point per reference
  * blueprint (upload / download / move / delete — SURVEY.md §3), with the
  * reference's exact lifecycle (scan -> match -> rename -> act) and
  * numbering/exit-code quirks, executed as distributed Spark actions.
  *
  * A reference user switches by replacing each
  * `python -m azurestorage_blueprints.<x>_file` invocation with the
  * matching method; `file://`, `hdfs://`, `abfss://`, `s3a://` URIs all
  * work (Hadoop FileSystem API).
  *
  * Differences from the reference, all deliberate (SURVEY.md §2):
  *  - transfers run cluster-parallel, not one-file-per-HTTPS-round-trip;
  *  - match numbering is by path order (deterministic), not listing order;
  *  - move's missing `EXIT_CODE_AZURE_MOVE_ERROR` is defined (203).
  */
object Blueprints {

  /** What a run did: the manifest that WOULD be/was executed. */
  final case class Report(matched: Long, manifest: DataFrame)

  /** upload_file.py:196-237 — local folder -> container. Zero matches do
    * NOT raise (the reference prints "0 files found" and exits 0). */
  def upload(
      spark: SparkSession,
      sourceRoot: String,
      sourceFolderName: String,
      sourceFileName: MatchType,
      containerUri: String,
      destinationFolderName: String = "",
      destinationFileName: Option[String] = None,
      execute: Boolean = true): Report = {
    val r = transferLike(spark, sourceRoot, sourceFolderName,
      sourceFileName, containerUri, destinationFolderName,
      destinationFileName,
      // upload numbers every regex match 1..n (upload_file.py:215-220)
      RenamePlan.Numbering.Always)
    if (execute) Transfer.copyFiles(r.manifest)
    r
  }

  /** download_file.py:190-237 — container -> local folder. */
  def download(
      spark: SparkSession,
      containerUri: String,
      sourceFolderName: String,
      sourceFileName: MatchType,
      destinationRoot: String,
      destinationFolderName: String = "",
      destinationFileName: Option[String] = None,
      execute: Boolean = true): Report = {
    val r = transferLike(spark, containerUri, sourceFolderName,
      sourceFileName, destinationRoot, destinationFolderName,
      destinationFileName, RenamePlan.Numbering.Always)
    if (execute) Transfer.copyFiles(r.manifest)
    r
  }

  /** move_file.py:110-156 — blob -> blob within a container. Zero matches
    * raise NoMatchesFound (exit 200); single match is NOT numbered
    * (move_file.py:135). */
  def move(
      spark: SparkSession,
      containerUri: String,
      sourceFolderName: String,
      sourceFileName: MatchType,
      destinationFolderName: String = "",
      destinationFileName: Option[String] = None,
      execute: Boolean = true): Report = {
    val r = transferLike(spark, containerUri, sourceFolderName,
      sourceFileName, containerUri, destinationFolderName,
      destinationFileName, RenamePlan.Numbering.UnlessSingle)
    if (r.matched == 0) sourceFileName match {
      case RegexMatch(p) => throw BlueprintError.NoMatchesFound(p)
      case ExactMatch(p) => throw BlueprintError.NoMatchesFound(p)
    }
    if (execute) Transfer.moveFiles(r.manifest)
    r
  }

  /** delete_file.py:264-299 — delete blobs. Zero matches raise (200). */
  def delete(
      spark: SparkSession,
      containerUri: String,
      sourceFolderName: String,
      sourceFileName: MatchType,
      execute: Boolean = true): Report = {
    val folder = functions.PathAlg.cleanFolderName(sourceFolderName)
    // one listing, snapshotted: the count, the deletes and the report
    // all read the same rows (a lazy manifest would re-list the
    // namespace after the deletes and report what is left); the job
    // that stores the snapshot also counts it
    val (manifest, n) = Materialize.counted(
      scanAndMatch(spark, containerUri, folder, sourceFileName)
        .select(col("path")))
    if (n == 0) sourceFileName match {
      case RegexMatch(p) => throw BlueprintError.NoMatchesFound(p)
      case ExactMatch(p) => throw BlueprintError.NoMatchesFound(p)
    }
    if (execute) Transfer.deleteFiles(manifest)
    Report(n, manifest)
  }

  // ---- shared lifecycle (SURVEY.md §3.4) ----

  private def scanAndMatch(
      spark: SparkSession, rootUri: String, folder: String,
      matchType: MatchType): DataFrame =
    matchType match {
      case ExactMatch(name) =>
        // F2: point lookup — no listing at all (download_file.py:227-237)
        FileCatalog.stat(spark, rootUri,
          functions.PathAlg.combineFolderAndFileName(folder, name))
      case RegexMatch(pattern) =>
        // S1/S2 with prefix pushdown + F1 residual regex on the name
        FileCatalog.list(spark, rootUri,
            prefix = if (folder.isEmpty) "" else folder + "/")
          .filter(RegexMatch(pattern).predicate(col("name")))
    }

  private def transferLike(
      spark: SparkSession,
      sourceRoot: String, sourceFolderName: String, matchType: MatchType,
      destRoot: String, destFolderName: String, destFileName: Option[String],
      numbering: RenamePlan.Numbering): Report = {
    val folder = functions.PathAlg.cleanFolderName(sourceFolderName)
    val catalog = scanAndMatch(spark, sourceRoot, folder, matchType)
    val effectiveNumbering = matchType match {
      case _: ExactMatch => RenamePlan.Numbering.Never
      case _ => numbering
    }
    val (planned, n) = RenamePlan.planifyCounted(catalog,
      destFolder = destFolderName, destName = destFileName,
      numbering = effectiveNumbering)
    val root = if (destRoot.endsWith("/")) destRoot else destRoot + "/"
    val manifest = planned.select(
      col("path").as("src_path"),
      concat(lit(root), col("dest_path")).as("dest_path"))
    Report(n, manifest)
  }
}
