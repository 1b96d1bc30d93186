package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

/** The local file system under its own scheme, with `rename` returning
  * false (how Hadoop reports a failed rename) for every rename that
  * [[RefusingRenameFs.refuse]] matches. */
class RefusingRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refusing:///")
  override def getScheme: String = "refusing"
  override def rename(src: Path, dst: Path): Boolean =
    !RefusingRenameFs.refuse(src, dst) && super.rename(src, dst)
}

object RefusingRenameFs {
  @volatile var refuse: (Path, Path) => Boolean = (_, _) => false
}

/** Every rename of the park-aside swap is checked: a refused rename
  * fails the batch with the store named and the store intact. */
class SwapRenameSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.refusing.impl", classOf[RefusingRenameFs].getName)

  private def refusingDir(prefix: String): String =
    "refusing://" + specTempDir(prefix).toUri.getPath.stripSuffix("/")

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readStore(dir: String): Set[(Long, String)] =
    spark.read.parquet(dir).as[(Long, String)].collect().toSet

  private def refusing[T](rule: (Path, Path) => Boolean)(body: => T): T = {
    RefusingRenameFs.refuse = rule
    try body finally RefusingRenameFs.refuse = (_, _) => false
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  private def compact(store: String): Unit =
    StoreCompaction.swapRewrite(spark, store)(
      read = d => spark.read.parquet(d),
      fold = _.filter($"v" === "keep"),
      write = (df, d) => df.write.mode("overwrite").parquet(d))

  private val rows = Seq((1L, "keep"), (2L, "drop"))

  test("a refused park (store -> __old) fails the swap and leaves the " +
    "store as it was") {
    val store = refusingDir("refuse-park") + "/store"
    rows.toDF("id", "v").write.parquet(store)
    val e = refusing((_, dst) => dst.getName.endsWith("__old")) {
      intercept[java.io.IOException](compact(store))
    }
    assert(e.getMessage.contains(store), e.getMessage)
    assert(readStore(store) == rows.toSet)
    assert(!fs(store).exists(new Path(store + "__old")))
  }

  test("a refused rename-in (__compact -> store) puts the parked store " +
    "back instead of renaming the rewrite into it") {
    val store = refusingDir("refuse-in") + "/store"
    rows.toDF("id", "v").write.parquet(store)
    val e = refusing((src, _) => src.getName.endsWith("__compact")) {
      intercept[java.io.IOException](compact(store))
    }
    assert(e.getMessage.contains(store), e.getMessage)
    assert(readStore(store) == rows.toSet)
    assert(!fs(store).exists(new Path(store + "/store__compact")))
    // with renames working again the next compaction goes through
    compact(store)
    assert(readStore(store) == Set((1L, "keep")))
  }

  test("a refused recovery rename names the store") {
    val store = refusingDir("refuse-recover") + "/store"
    rows.toDF("id", "v").write.parquet(store + "__old")
    val e = refusing((_, _) => true) {
      intercept[java.io.IOException](
        StoreCompaction.recoverParked(spark, store))
    }
    assert(e.getMessage.contains(store), e.getMessage)
    StoreCompaction.recoverParked(spark, store)
    assert(readStore(store) == rows.toSet)
  }

  test("upsert: a refused park fails the batch and keeps the previous " +
    "snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val root = refusingDir("refuse-upsert")
    val snap = root + "/snap"
    val mem = MemoryStream[(Long, Long, String)]
    val q = CorpusStream.upsertBatches(mem.toDF().toDF("k", "ver", "v"),
      snap, "k", "ver", specTempDir("refuse-upsert-ckpt").toString)
    try {
      mem.addData((1L, 1L, "a1"))
      q.processAllAvailable()
      refusing((_, dst) => dst.getName.endsWith("__old")) {
        mem.addData((2L, 1L, "b1"))
        val e = intercept[StreamingQueryException](q.processAllAvailable())
        assert(messages(e).exists(_.contains(snap)), messages(e))
      }
    } finally q.stop()
    assert(spark.read.parquet(snap).as[(Long, Long, String)].collect()
      .toSet == Set((1L, 1L, "a1")))
  }
}
