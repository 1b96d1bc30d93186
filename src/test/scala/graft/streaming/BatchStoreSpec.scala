package graft.streaming

import graft.SparkSpec
import graft.ops.Materialize
import org.apache.spark.sql.functions.lit

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The micro-batch store owner: it alone starts checkpointed queries and
  * sets the dynamic overwrite, and a freeze batch releases what it
  * checkpoints. */
class BatchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("freezeBatch releases both per-batch checkpoints after its last " +
    "write") {
    assert(!Materialize.faultTolerant(spark), "local-checkpoint mode")
    val root = specTempDir("freeze-release")
    val dirs = Seq("tk", "sk", "fz", "mf").map(root.resolve(_).toString)
    val docs = Seq((1L, "a1. b1. c1. d1."), (2L, "x. y."))
      .toDF("doc_id", "text")
    val before = persistent
    CorpusStream.freezeBatch(docs, 0L, lit(true),
      Seq(graft.ext.Bpe.Merge(1, "a", "1", 1L)),
      dirs(0), dirs(1), dirs(2), dirs(3), "s", 2)
    // the release is blocking, so no wait: nothing the call persisted
    // is left
    assert((persistent -- before).isEmpty,
      s"left persistent: ${persistent -- before}")
    assert(spark.read.parquet(dirs(2)).count() == 2L)
  }

  test("only BatchStore starts checkpointed queries and sets the " +
    "dynamic overwrite under graft/streaming") {
    val root = Paths.get(sys.props("user.dir"),
      "src", "main", "scala", "graft", "streaming")
    val owner = root.resolve("BatchStore.scala")
    assert(Files.isRegularFile(owner), s"$owner missing")
    val banned = Seq("partitionOverwriteMode", "checkpointLocation")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        banned.filter(text.contains).map(b => s"${root.relativize(p)}: $b")
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
