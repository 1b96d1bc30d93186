package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's entire scalar-expression surface: a pure string/path
  * algebra (SURVEY.md §2.3, X1-X6). Two layers:
  *
  *  - [[PathAlg]]: exact Python-semantics Scala implementations, used
  *    driver-side for CLI-style metadata (folder args are driver values,
  *    not row data) and as the test oracle for the column layer.
  *  - [[PathFunctions]]: `Column` compositions of codegen'd built-ins for
  *    distributed use inside rename-plan projections over file catalogs.
  *
  * Reference citations per function in the Scaladoc below.
  */
object PathAlg {

  /** X1 `clean_folder_name` — strip '/' then normpath
    * (`upload_file.py:107-115`). */
  def cleanFolderName(folder: String): String = {
    val stripped = folder.replaceAll("^/+", "").replaceAll("/+$", "")
    if (stripped.isEmpty) "" else normpath(stripped)
  }

  /** Python `os.path.normpath` (posix flavor): collapse `//`, drop `.`
    * segments, resolve `..` lexically, `'' -> '.'`. */
  def normpath(p: String): String = {
    if (p.isEmpty) return "."
    val absolute = p.startsWith("/")
    // POSIX: exactly two leading slashes are preserved by normpath
    val doubleSlash = p.startsWith("//") && !p.startsWith("///")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    p.split("/").foreach {
      case "" | "." => ()
      case ".." =>
        if (out.nonEmpty && out.last != "..") out.remove(out.length - 1)
        else if (!absolute) out += ".."
      case seg => out += seg
    }
    val body = out.mkString("/")
    val prefix = if (doubleSlash) "//" else if (absolute) "/" else ""
    val r = prefix + body
    if (r.isEmpty) "." else r
  }

  /** X3 `extract_file_name_from_source_full_path` — `os.path.basename`
    * (`upload_file.py:61-67`). */
  def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** X4 `enumerate_destination_file_name` — inject `_<n>` before the FIRST
    * `.`; append `_<n>` when there is no dot (`upload_file.py:70-81`). */
  def enumerateDestinationFileName(name: String, fileNumber: Int): String = {
    val i = name.indexOf('.')
    if (i >= 0) name.substring(0, i) + s"_$fileNumber." + name.substring(i + 1)
    else s"${name}_$fileNumber"
  }

  /** X2 `combine_folder_and_file_name` — `normpath(folder + '/' + file)`
    * (normpath applied twice in the reference; it is idempotent)
    * (`upload_file.py:118-127`). */
  def combineFolderAndFileName(folder: String, file: String): String =
    normpath(s"$folder${if (folder.nonEmpty) "/" else ""}$file")

  /** X5 `determine_destination_file_name` — explicit dest name (enumerated
    * iff fileNumber set) else basename of source (`upload_file.py:84-104`).
    * Note the reference quirk: when no explicit dest name is given the
    * fileNumber is IGNORED (multi-match collisions are possible). */
  def determineDestinationFileName(
      sourceFullPath: String,
      destinationFileName: Option[String],
      fileNumber: Option[Int] = None): String =
    destinationFileName match {
      case Some(d) if d.nonEmpty =>
        fileNumber.fold(d)(n => enumerateDestinationFileName(d, n))
      case _ => basename(sourceFullPath)
    }
}

object PathFunctions {

  /** Column-level normpath (no `..` resolution — blob keys never contain
    * `..`; [[PathAlg.normpath]] is the full-fidelity scalar form):
    * collapse runs of `/`, drop `.` segments, drop trailing `/`, `''->'.'`.
    */
  def normpathCol(c: Column): Column = {
    val collapsed = regexp_replace(c, "/{2,}", "/")
    val noDotSegs = regexp_replace(collapsed, "(^|/)(\\./)+", "$1")
    val noTrailDot = regexp_replace(noDotSegs, "/\\.$", "")
    val noTrail = regexp_replace(noTrailDot, "(.)/$", "$1")
    when(noTrail === "" || noTrail === ".", lit(".")).otherwise(noTrail)
  }

  /** X1 as a Column: strip leading/trailing '/' then normpath; `'' -> ''`. */
  def cleanFolderNameCol(c: Column): Column = {
    val stripped = regexp_replace(regexp_replace(c, "^/+", ""), "/+$", "")
    when(stripped === "", lit("")).otherwise(normpathCol(stripped))
  }

  /** X3 as a Column: basename = text after the last '/'. */
  def basenameCol(c: Column): Column = regexp_extract(c, "[^/]*$", 0)

  /** X4 as a Column, via the engine's custom [[RegExpReplaceFirst]]
    * expression (Spark's `regexp_replace` replaces ALL matches — wrong). */
  def enumerateNameCol(name: Column, fileNumber: Column): Column =
    when(name.contains("."),
      RegExpReplaceFirst(name, lit("\\."), concat(lit("_"), fileNumber, lit("."))))
    .otherwise(concat(name, lit("_"), fileNumber))

  /** X2 as a Column. */
  def combineCol(folder: Column, file: Column): Column =
    normpathCol(when(folder.isNull || folder === "", file)
      .otherwise(concat(folder, lit("/"), file)))

  /** X5 as a Column: explicit dest name (enumerated iff fileNumber non-null)
    * else basename of the source path. */
  def destFileNameCol(
      sourcePath: Column, destName: Column, fileNumber: Column): Column =
    when(destName.isNotNull && destName =!= "",
      when(fileNumber.isNotNull, enumerateNameCol(destName, fileNumber))
        .otherwise(destName))
    .otherwise(basenameCol(sourcePath))

  /** X6 as a Column: the rename-mapping projection. */
  def destFullPathCol(
      destFolder: Column, destName: Column,
      sourcePath: Column, fileNumber: Column): Column =
    combineCol(cleanFolderNameCol(destFolder),
      destFileNameCol(sourcePath, destName, fileNumber))
}
