package graft.ops

import graft.functions.PathFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The rename-mapping projection (SURVEY.md §2.3 X6 + §2.5 A2): given a
  * matched file catalog, compute each file's destination path.
  *
  * Numbering semantics differ per reference entry point:
  *  - upload/download regex branch: every match is numbered 1..n
  *    (`upload_file.py:215-220`, `download_file.py:215-219`) —
  *    [[Numbering.Always]];
  *  - move regex branch: `None` when exactly one match, else 1..n
  *    (`move_file.py:130-136`) — [[Numbering.UnlessSingle]];
  *  - exact branch anywhere: no numbering — [[Numbering.Never]].
  *
  * Numbering only ever AFFECTS an explicitly provided destination name
  * (`upload_file.py:94-102`: without one, the basename is used and the
  * number ignored).
  *
  * Ordering: the reference numbers files in listing order (glob/REST
  * order). The engine defines the spec as order-by-`path` so results are
  * deterministic under any partitioning (SURVEY.md §2.5 A3).
  *
  * Scale note: the global ordinal is a total order, but it is NOT computed
  * with a single-partition window — [[PrefixSum.withOrdinal]] scans each
  * partition in order and adds per-partition offsets (the running total
  * of weight 1), so enumeration of a 100M-file manifest stays parallel.
  * A [[graft.catalog.FileCatalog]] listing (filtered or projected) is
  * already range-partitioned on the path and says so in its plan, so it
  * is numbered where it was listed, each partition sorted in its task:
  * ONE job that lists, numbers and stores the manifest, no range
  * shuffle. Any other catalog (a table, a union of listings) is
  * range-partitioned on the path first. The total count comes free from
  * the same enumeration (no `count() OVER ()` global window, no second
  * scan of the catalog): `UnlessSingle` reads it, [[planifyCounted]]
  * returns it.
  */
object RenamePlan {

  sealed trait Numbering
  object Numbering {
    case object Always extends Numbering
    case object UnlessSingle extends Numbering
    case object Never extends Numbering
  }

  /** Adds `file_number` and `dest_path` to a catalog DataFrame.
    *
    * @param catalog   must contain `pathCol` (source full path / name)
    * @param destFolder raw destination folder (cleaned here, X1)
    * @param destName   optional explicit destination file name
    */
  def planify(
      catalog: DataFrame,
      destFolder: String,
      destName: Option[String],
      numbering: Numbering,
      pathCol: String = "path"): DataFrame =
    planned(catalog, destFolder, destName, numbering, pathCol)._1

  /** [[planify]] plus the catalog's row count. For `Always` and
    * `UnlessSingle` the count is FREE ([[PrefixSum.withOrdinalCounted]]
    * already totals the partitions); `Never` (the exact-match branch,
    * a driver-built frame of at most one row) counts its frame. */
  def planifyCounted(
      catalog: DataFrame,
      destFolder: String,
      destName: Option[String],
      numbering: Numbering,
      pathCol: String = "path"): (DataFrame, Long) = {
    val (out, total) = planned(catalog, destFolder, destName, numbering, pathCol)
    (out, total.getOrElse(catalog.count()))
  }

  /** The plan and, when the numbering enumerated the catalog, its row
    * count; `Never` enumerates nothing and stays lazy. */
  private def planned(
      catalog: DataFrame,
      destFolder: String,
      destName: Option[String],
      numbering: Numbering,
      pathCol: String): (DataFrame, Option[Long]) = {
    val p = col(pathCol)
    val (numbered, total) = numbering match {
      case Numbering.Never =>
        (catalog.withColumn("file_number", lit(null).cast("int")), None)
      case _ =>
        val (ordered, total) =
          PrefixSum.withOrdinalCounted(catalog, "file_number", Seq(p))
        val single = numbering == Numbering.UnlessSingle && total == 1L
        (ordered.withColumn("file_number",
          if (single) lit(null).cast("int")
          else col("file_number").cast("int")), Some(total))
    }
    (numbered
      .withColumn("dest_path",
        destFullPathCol(
          lit(destFolder),
          destName.map(lit).getOrElse(lit(null).cast("string")),
          p,
          col("file_number"))), total)
  }
}
