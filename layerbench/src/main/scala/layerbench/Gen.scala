package layerbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.zip.CRC32
import scala.jdk.CollectionConverters._

/** A generated file: path relative to its tree root, size and CRC32. */
final case class FileSpec(rel: String, size: Int, crc: Long, offset: Int) {
  def base: String = rel.substring(rel.lastIndexOf('/') + 1)
}

/** Seeded input trees. File contents are slices of one seeded 2 MiB byte
  * pool at seeded offsets, so generation costs one write per file. */
final class Gen(seed: Long) {
  val MinSize = 1 << 10
  val MaxSize = 1 << 20
  private val rnd = new java.util.Random(seed)
  private val pool = { val b = new Array[Byte](2 * MaxSize); rnd.nextBytes(b); b }

  /** `n` sizes, log-uniform between 1 KiB and 1 MiB: one jittered draw
    * from each of `n` equal strata of the log range, so the total bytes
    * barely depend on the seed. Returned in stratum order. */
  private def strata(n: Int): IndexedSeq[Int] = {
    val lo = math.log(MinSize.toDouble)
    val span = math.log(MaxSize.toDouble / MinSize)
    (0 until n).map(i => math.exp(lo + (i + rnd.nextDouble()) / n * span).toInt)
  }

  private def spec(rel: String, n: Int): FileSpec = {
    val off = rnd.nextInt(pool.length - n + 1)
    val c = new CRC32; c.update(pool, off, n)
    FileSpec(rel, n, c.getValue, off)
  }

  /** `n` files in a tree with the given fan-out per level (the root holds
    * none). The listing fans out over the first-level directories, so each
    * of them gets the same number of files (give or take one), placed in a
    * uniformly chosen directory of its subtree at any depth. Basenames are
    * unique across the tree. Every third size stratum carries the `_a`
    * class that the upload regex selects, so the selection is a third of
    * the files and of the bytes whatever the seed. */
  def nested(n: Int, fanout: Seq[Int]): Seq[FileSpec] = {
    val subtrees = (0 until fanout.head).map { t =>
      fanout.tail.scanLeft(Seq(f"d$t%02d/")) { (level, f) =>
        level.flatMap(p => (0 until f).map(i =>
          f"$p${('d' + p.count(_ == '/')).toChar}$i%02d/"))
      }.flatten
    }
    val sized = strata(n).zipWithIndex.map { case (size, i) => (size, "abc".charAt(i % 3)) }
    new scala.util.Random(rnd.nextLong()).shuffle(sized).zipWithIndex.map {
      case ((size, cls), i) =>
        val dirs = subtrees(i % subtrees.size)
        spec(f"${dirs(rnd.nextInt(dirs.size))}f$i%05d_$cls.bin", size)
    }
  }

  /** `n` files in one flat folder. */
  def flat(n: Int): Seq[FileSpec] =
    new scala.util.Random(rnd.nextLong()).shuffle(strata(n)).zipWithIndex
      .map { case (size, i) => spec(f"g$i%05d.bin", size) }

  def write(root: Path, files: Seq[FileSpec]): Unit = files.foreach { f =>
    val p = root.resolve(f.rel)
    Files.createDirectories(p.getParent)
    val ch = FileChannel.open(p, StandardOpenOption.CREATE_NEW,
      StandardOpenOption.WRITE)
    try ch.write(ByteBuffer.wrap(pool, f.offset, f.size)) finally ch.close()
  }
}

/** Output checks: walk a tree with java.nio and compare relative names,
  * sizes and CRC32 of contents against the expected files. */
object Check {
  def crc(p: Path): Long = {
    val c = new CRC32
    val buf = ByteBuffer.allocate(1 << 16)
    val ch = FileChannel.open(p, StandardOpenOption.READ)
    try {
      while (ch.read(buf) >= 0) { buf.flip(); c.update(buf); buf.clear() }
    } finally ch.close()
    c.getValue
  }

  /** Relative names of the regular files under `root` (empty if absent). */
  def names(root: Path): Set[String] =
    if (!Files.isDirectory(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSet
      finally s.close()
    }

  /** None when `root` holds exactly `want` (by relative name) with equal
    * sizes and CRC32s; otherwise the first difference. */
  def tree(root: Path, want: Map[String, FileSpec]): Option[String] = {
    val got = names(root)
    val missing = want.keySet -- got
    val extra = got -- want.keySet
    if (missing.nonEmpty) Some(s"$root: ${missing.size} missing, e.g. ${missing.head}")
    else if (extra.nonEmpty) Some(s"$root: ${extra.size} unexpected, e.g. ${extra.head}")
    else want.collectFirst {
      case (rel, f) if Files.size(root.resolve(rel)) != f.size =>
        s"$root/$rel: size ${Files.size(root.resolve(rel))} != ${f.size}"
      case (rel, f) if crc(root.resolve(rel)) != f.crc =>
        s"$root/$rel: CRC32 differs"
    }
  }

  /** None when none of `rels` exists under `root`. */
  def absent(root: Path, rels: Iterable[String]): Option[String] =
    rels.find(r => Files.exists(root.resolve(r)))
      .map(r => s"$root/$r: still present")

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
