package graft.streaming

import graft.SparkSpec
import graft.queries.FreezeExportSpec
import org.apache.spark.sql.functions.{col, lit}

/** [[CorpusStream.freezeBatch]], the incremental data freeze that
  * `pipeline_freeze_export` runs once per pseudo-batch. */
class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  test("store-format guard: a pre-r14 text-key store without `len` is " +
    "refused with the upgrade instruction instead of silently " +
    "re-admitting historical duplicates") {
    val root = specTempDir("legacy-store")
    // legacy freeze text-key store: partitioned layout but no `len`
    // column — a schema-padded read would null it and the history
    // anti-join would match nothing
    val tk = root.resolve("tk").toString
    Seq((1L, 2L, 0L)).toDF("h1", "h2", "batch_id")
      .write.partitionBy("batch_id").parquet(tk)
    val dirs = Seq("sk", "fz", "mf").map(root.resolve(_).toString)
    val e = intercept[IllegalArgumentException] {
      CorpusStream.freezeBatch(
        Seq((9L, "a1. b1. c1. d1.")).toDF("doc_id", "text"), 1L,
        lit(true), Seq(graft.ext.Bpe.Merge(1, "a", "1", 1L)),
        tk, dirs(0), dirs(1), dirs(2), "s", 2)
    }
    assert(e.getMessage.contains("len"), e.getMessage)
  }

  test("freeze stores survive an EMPTY first batch: a batch with " +
    "nothing past the gate writes part-file-less stores, and the next " +
    "batch's history read must not die on schema inference") {
    val root = specTempDir("freeze-empty")
    // freeze: batch 0 entirely gated out -> empty text-key AND
    // span-key stores; batch 1 must proceed and freeze normally
    val merges = Seq(graft.ext.Bpe.Merge(1, "a", "1", 1L))
    val dirs = Seq("tk", "sk", "fz", "mf").map(root.resolve(_).toString)
    val gate = !col("text").contains("drop")
    CorpusStream.freezeBatch(
      Seq((1L, "drop me. twice. over. fully.")).toDF("doc_id", "text"),
      0L, gate, merges, dirs(0), dirs(1), dirs(2), dirs(3), "s", 2)
    CorpusStream.freezeBatch(
      Seq((2L, "a1. b2. c3. d4."), (3L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"),
      1L, gate, merges, dirs(0), dirs(1), dirs(2), dirs(3), "s", 2)
    val frozen = spark.read.parquet(dirs(2))
      .select("doc_id").as[Long].collect().toSet
    // doc 2 froze; the null-text doc dropped at the gate, explicitly
    assert(frozen == Set(2L), frozen.toString)
  }

  test("streaming DATA FREEZE: gate, exact + span dedup against " +
    "accumulated stores, fixed-table encode and the folded manifest " +
    "EQUAL the batch composition over the union; crash replay leaves " +
    "every store byte-identical") {
    import graft.ext.{Bpe, Dedup, TextAnalysis}
    import org.apache.spark.sql.functions.{concat_ws, length, min, size}
    val root = specTempDir("freeze-stream")
    val textStore = root.resolve("textkeys").toString
    val spanStore = root.resolve("spankeys").toString
    val store = root.resolve("frozen").toString
    val manifest = root.resolve("manifest").toString
    val b1 = Seq(
      (1L, "a1. b1. c1. d1."), // keeper of span (b1,c1,d1)
      (2L, "bad \ufffd doc. x. y. z."), // gated out up front
      (3L, "dup text here."))
    val b2 = Seq(
      (10L, "dup text here."), // exact dup of doc 3 -> drops whole
      (11L, "z9. b1. c1. d1."), // historical span -> keeps "z9."
      (12L, "u. v.")) // short: passes whole
    val gate = !org.apache.spark.sql.functions.col("text")
      .contains("\ufffd")
    // fixed merge table, trained once batch-side (a stream cannot
    // train) \u2014 both sides encode under the SAME table
    val merges = Bpe.trainLocal(
      Bpe.wordFreq((b1 ++ b2).toDF("doc_id", "text"), "text"), 6)
    // one call per micro-batch, as the graded export runs it
    Seq(b1, b2).zipWithIndex.foreach { case (b, batchId) =>
      CorpusStream.freezeBatch(b.toDF("doc_id", "text"), batchId.toLong,
        gate, merges, textStore, spanStore, store, manifest, "fz1", 4)
    }
    def frozenSnap() = spark.read.parquet(store)
      .select("doc_id", "text", "n_tokens")
      .as[(Long, String, Long)].collect().toSet
    val got = frozenSnap()
    // batch composition over the union
    val union = (b1 ++ b2).toDF("doc_id", "text")
    val gated = union.filter(gate)
    val exact = gated.join(
      gated.groupBy("text").agg(min("doc_id").as("doc_id"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    val frozenB = Dedup.spanDedup(exact, "doc_id", "text")
      .filter(length(col("kept_text")) > 0)
      .select(col("doc_id"), col("kept_text").as("text"))
    val encB = Bpe.encodeScalable(frozenB, "doc_id", "text", merges)
      .select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"))
    val expect = frozenB.join(encB, Seq("doc_id"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == expect, s"got=$got expect=$expect")
    // the fixture exercised every stage: doc 2 gated, doc 10 exact-
    // dropped, doc 11 span-trimmed to its novel sentence
    assert(!got.exists(r => r._1 == 2L || r._1 == 10L))
    assert(got.find(_._1 == 11L).get._2 == "z9.")
    // folded manifest equals the batch integrity manifest over the
    // frozen union, token-weighted
    val folded = FreezeExportSpec.foldManifest(spark, manifest)
      .select("shard_id", "n_docs", "total_tokens", "checksum")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batchSide = graft.ops.ShardShuffle.integrityManifest(
        frozenB.join(encB, Seq("doc_id")), "doc_id", "text",
        col("n_tokens"), "fz1", 4)
      .select("shard_id", "n_docs", "total_tokens", "checksum")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(folded == batchSide, s"folded=$folded batch=$batchSide")
    // crash replay: re-run batch 1 under its old batch_id \u2014 every
    // store partition is replaced byte-identically
    def keysSnap(dir: String) = spark.read.parquet(dir)
      .select("h1", "h2").as[(Long, Long)].collect().sorted.toSeq
    val before = (frozenSnap(), keysSnap(textStore), keysSnap(spanStore),
      FreezeExportSpec.foldManifest(spark, manifest)
        .as[(Long, Long, Long, Long)].collect().toSet)
    CorpusStream.freezeBatch(b2.toDF("doc_id", "text"), 1L, gate,
      merges, textStore, spanStore, store, manifest, "fz1", 4)
    val after = (frozenSnap(), keysSnap(textStore), keysSnap(spanStore),
      FreezeExportSpec.foldManifest(spark, manifest)
        .as[(Long, Long, Long, Long)].collect().toSet)
    assert(after == before)
    assert(before._2.distinct.size == before._2.size,
      "text-key store holds each key once")
    assert(before._3.distinct.size == before._3.size,
      "span-key store holds each key once")
  }
}
