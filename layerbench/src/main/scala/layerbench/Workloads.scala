package layerbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** One timed operation (a blueprint call or a query execution) and
  * whether it and its output check succeeded: `files` it acted on and
  * `bytes` it copied. */
final case class Op(kind: String, seconds: Double, ok: Boolean,
    files: Long, bytes: Long)

object Op {
  /** Times `call` only; `check` runs after the clock stops. */
  def apply[T](kind: String, files: Long, bytes: Long)(call: => T)(
      check: T => Option[String]): Op = {
    val t0 = System.nanoTime()
    val res = try Right(call) catch { case e: Throwable => Left(e.toString) }
    val s = (System.nanoTime() - t0) / 1e9
    val bad = res.fold(Some(_), check)
    bad.foreach(m => System.err.println(s"[layerbench] FAILED $kind: $m"))
    Op(kind, s, bad.isEmpty, files, bytes)
  }
}

trait Workload {
  /** Generates the inputs of one set-up (untimed by the cycles). */
  def prepare(): Unit
  /** Restores the state a cycle starts from (untimed). */
  def reset(): Unit
  def cycle(calls: Calls, spark: SparkSession): Seq[Op]
}

object Workload {
  def apply(name: String, seed: Long, work: Path, bench: Path): Workload =
    name match {
      case "upload_nested" => new UploadNested(seed, work)
      case "curation_hotset" => new CurationHotset(bench.resolve("data"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** A local tree a few levels deep: each cycle uploads the regex-selected
  * third of it into an empty container folder, then dry-runs an upload of
  * every file under an explicit destination name (enumerated numbering). */
final class UploadNested(seed: Long, work: Path) extends Workload {
  val FileCount = 150
  val Fanout = Seq(8, 4, 4)
  private val local = work.resolve("local")
  private val container = work.resolve("container")
  private var files: Seq[FileSpec] = Nil
  private var selected: Map[String, FileSpec] = Map.empty

  def prepare(): Unit = {
    Check.deleteTree(work)
    val g = new Gen(seed)
    files = g.nested(FileCount, Fanout)
    selected = files.filter(_.rel.endsWith("_a.bin")).map(f => f.base -> f).toMap
    g.write(local.resolve("tree"), files)
    Files.createDirectories(container)
  }

  def reset(): Unit = Check.deleteTree(container.resolve("up"))

  def cycle(calls: Calls, spark: SparkSession): Seq[Op] = {
    val src = local.toUri.toString
    val dst = container.toUri.toString
    val up = Op("upload", selected.size, selected.values.map(_.size.toLong).sum) {
      calls.upload(src, "tree", "_a\\.bin$", dst, "up", None,
        execute = true, files = files.size)
    } { r =>
      if (r.matched != selected.size) Some(s"matched ${r.matched} != ${selected.size}")
      else Check.tree(container.resolve("up"), selected)
    }
    val plan = Op("plan", files.size, 0L) {
      calls.upload(src, "tree", "\\.bin$", dst, "plan",
        Some("part.tar.gz"), execute = false, files = files.size)
    } { r =>
      if (r.matched != files.size) Some(s"matched ${r.matched} != ${files.size}")
      else if (Files.exists(container.resolve("plan"))) Some("dry run wrote files")
      else None
    }
    Seq(up, plan)
  }
}

/** Passes over the curation hot set on the graded tables shipped with the
  * benchmark. The first (cold) pass writes each result for the digest
  * check; the warm passes use a noop sink. */
final class CurationHotset(data: Path, work: Path) extends Workload {
  private lazy val fns = {
    val q = SparkEntry.queries; CurationHotset.Queries.map(n => n -> q(n))
  }
  private val dir = data.toString
  private var written = false

  def prepare(): Unit = {
    Check.deleteTree(work)
    Files.createDirectories(work)
  }

  def reset(): Unit = ()

  def cycle(calls: Calls, spark: SparkSession): Seq[Op] = {
    val ops = fns.map { case (name, fn) =>
      val op = Op(name, 0L, 0L) {
        calls.query(name) {
          val w = fn(spark, dir).write.mode("overwrite")
          if (written) w.format("noop").save()
          else w.parquet(work.resolve("results").resolve(name).toString)
        }
      }(_ => None)
      // the caller owns what a query leaves cached, as in graft.Bench
      spark.catalog.clearCache()
      op
    }
    written = true
    ops
  }
}

object CurationHotset {
  val Queries = Seq("dedup_suffix_removal", "graph_triangles",
    "ref_rename_enumerate")
}
