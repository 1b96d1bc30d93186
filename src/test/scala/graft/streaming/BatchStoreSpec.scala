package graft.streaming

import graft.SparkSpec
import graft.ops.Materialize
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The micro-batch store owner: it alone starts checkpointed queries and
  * sets the dynamic overwrite, and every side input a gate freezes is
  * released when the query ends — stopped or failed. */
class BatchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Polls `cond` for up to 20 s: listener events arrive
    * asynchronously. */
  private def eventually(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    cond
  }

  /** Starts a freezing gate (`start(root)` returns the query and a
    * feeder for one micro-batch), stops it, and checks that the frozen
    * side input was held while the query ran and is freed after it, with
    * the release listener gone. A checkpoint that another suite leaves
    * behind may be cleaned meanwhile, so only NEW persistent RDDs
    * count. */
  private def releasedOnStop(prefix: String)(
      start: String => (StreamingQuery, () => Unit)): Unit = {
    assert(!Materialize.faultTolerant(spark), "local-checkpoint mode")
    val before = persistent
    val listeners = spark.streams.listListeners().length
    val (q, feed) = start(specTempDir(prefix).toString)
    try {
      assert((persistent -- before).nonEmpty, "the side input is frozen")
      feed()
      q.processAllAvailable()
    } finally q.stop()
    assert(eventually((persistent -- before).isEmpty),
      s"still persistent after stop: ${persistent -- before}")
    assert(eventually(spark.streams.listListeners().length == listeners),
      "the release listener must remove itself")
  }

  private def docStream() = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    (mem, mem.toDF().toDF("doc_id", "text"))
  }

  test("wordlist gate releases its frozen wordlist on stop") {
    releasedOnStop("rel-wordlist") { root =>
      val (mem, docs) = docStream()
      val q = CorpusStream.wordlistGateBatches(docs,
        Seq("blocked").toDF("word"), s"$root/store", s"$root/ckpt")
      (q, () => { mem.addData((1L, "clean text"), (2L, "blocked")); () })
    }
  }

  test("jusText gate releases its frozen stopwords on stop") {
    releasedOnStop("rel-justext") { root =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = CorpusStream.justextExtractBatches(
        mem.toDF().toDF("doc_id", "html"),
        Seq("the", "a", "of").toDF("word"), s"$root/store", s"$root/ckpt")
      (q, () => {
        mem.addData((1L, "<p>" + ("the cat of the mat " * 10) + "</p>")); ()
      })
    }
  }

  test("quality gate releases its frozen model on stop") {
    releasedOnStop("rel-quality") { root =>
      val train = Seq((0L, "good solid prose", true),
        (1L, "spam junk spam", false)).toDF("doc_id", "text", "y")
      val model = graft.ext.TextAnalysis.logisticTrain(
        train, "doc_id", "text", "y", dim = 64, iters = 4)
      val (mem, docs) = docStream()
      val q = CorpusStream.qualityGateBatches(docs, model,
        s"$root/store", s"$root/ckpt", dim = 64)
      (q, () => { mem.addData((10L, "good prose")); () })
    }
  }

  test("langId gate releases its frozen model on stop") {
    releasedOnStop("rel-langid") { root =>
      val train = Seq((0L, "fr", "bonjour chateau fromage jardin"),
        (1L, "de", "schloss strasse zeitung fenster"))
        .toDF("doc_id", "lang", "text")
      val model = graft.ext.TextAnalysis.langIdTrain(train, "text", "lang")
      val (mem, docs) = docStream()
      val q = CorpusStream.langIdGateBatches(docs, model, Set("fr"),
        s"$root/store", s"$root/ckpt")
      (q, () => { mem.addData((5L, "bonjour fromage jardin")); () })
    }
  }

  test("mixture gate releases its frozen rate plan on stop") {
    releasedOnStop("rel-mixture") { root =>
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String, String)]
      val q = CorpusStream.mixtureGateBatches(
        mem.toDF().toDF("doc_id", "source", "text"),
        Seq(("src0", 1000L)).toDF("source", "rate_permil"),
        s"$root/store", s"$root/ckpt")
      (q, () => { mem.addData((1L, "src0", "doc")); () })
    }
  }

  test("a query that fails inside a batch still releases its frozen " +
    "side input") {
    assert(!Materialize.faultTolerant(spark), "local-checkpoint mode")
    val before = persistent
    val root = specTempDir("rel-failed").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // no `text` column: the batch's wordlist filter cannot resolve it
    val q = CorpusStream.wordlistGateBatches(
      mem.toDF().toDF("doc_id", "body"), Seq("blocked").toDF("word"),
      s"$root/store", s"$root/ckpt")
    try {
      mem.addData((1L, "clean text"))
      intercept[StreamingQueryException](q.processAllAvailable())
      assert(!q.isActive)
    } finally q.stop()
    assert(eventually((persistent -- before).isEmpty),
      s"still persistent after failure: ${persistent -- before}")
  }

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
