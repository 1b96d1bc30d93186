package graft.streaming

import graft.ops.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental DATA FREEZE: one micro-batch of documents at a time
  * against accumulated stores, never re-reading history. The graded
  * `pipeline_freeze_export` runs it once per pseudo-batch.
  */
object CorpusStream {

  /** One freeze micro-batch. Curation GATE (caller-supplied boolean
    * column — map-only; null-text rows drop here too, explicitly — a
    * text freeze cannot key or encode a null), EXACT dedup against an
    * accumulated TEXT-KEY store (double 31-bit hash of the full text
    * PLUS its character length, so a false drop needs a same-length
    * double-hash collision rather than ~62 colliding hash bits; the
    * within-batch keeper is the min id, cross-batch re-occurrences drop
    * — with monotone ids this equals the batch min-id keeper over the
    * union), C4 SPAN dedup against the accumulated span store, map-only
    * BPE encode under a FIXED merge table (trained batch-side), the
    * frozen-doc store, and the foldable per-(batch, shard) integrity
    * manifest. Packing is deliberately absent: bins are a global-
    * prefix-order construct the export assigns over the frozen store.
    *
    * Every store (text keys, span keys, frozen docs, manifest rows) is
    * a [[BatchStore]] (replay contract there): re-running a batch under
    * its `batchId` replaces its own partitions byte-identically
    * (spec-pinned). With document ids increasing across batches, the
    * union of frozen outputs EQUALS the batch composition gate → exact
    * dedup → span dedup → encode over all documents (differential
    * spec). Both per-batch checkpoints are released after the batch's
    * last write. */
  private[graft] def freezeBatch(batch: DataFrame, batchId: Long,
      gate: org.apache.spark.sql.Column,
      merges: Seq[graft.ext.Bpe.Merge],
      textStoreDir: String, spanStoreDir: String, storeDir: String,
      manifestDir: String, seed: String, numShards: Int,
      idCol: String = "doc_id", textCol: String = "text",
      spanSents: Int = 3): Unit = {
    val spark = batch.sparkSession
    def writeStore(keys: DataFrame, dir: String): Unit =
      BatchStore.write(keys, batchId, dir)
    // 1. curation gate — map-only. Null-text rows are dropped HERE,
    // explicitly: a text freeze cannot key, span or encode a null
    // (null hash keys would otherwise vanish silently in the dedup
    // equi-join) — route identity-less/parse-failed rows through the
    // JSONL quarantine upstream if they must be accounted for.
    val gated = batch.filter(gate && col(textCol).isNotNull)
      .select(col(idCol), col(textCol))
    // 2. exact dedup against the text-key store. The key is the
    // double 31-bit text hash PLUS the text length: ~62 hash bits
    // alone silently drop a distinct document per ~2^31 docs
    // (birthday bound); requiring an equal byte length as well makes
    // a false drop need a same-length double-hash collision — the
    // same discriminator cost (one long) as widening the hash, with
    // independent failure modes. STORE-FORMAT NOTE: `len` was added
    // in r14 — a text-key store written before it lacks the column
    // and is detected below (a schema-padded read would null `len`
    // and silently disable history); resume such a stream against a
    // fresh store dir.
    val keyed = gated
      .withColumn("h1",
        graft.ext.TextAnalysis.tokenHash31(col(textCol)))
      .withColumn("h2",
        graft.ext.TextAnalysis.tokenHash31(concat(col(textCol),
          lit("#"))))
      .withColumn("len", length(col(textCol)).cast("long"))
    requireTextKeyStoreCurrent(spark, textStoreDir)
    val textHist = BatchStore.history(spark, textStoreDir,
        "h1 LONG, h2 LONG, len LONG, batch_id LONG", batchId)
      .fold(keyed.select("h1", "h2", "len").limit(0))(
        _.select("h1", "h2", "len"))
    val keepFirst = keyed.join(
      keyed.groupBy("h1", "h2", "len").agg(min(col(idCol)).as(idCol)),
      Seq("h1", "h2", "len", idCol), "left_semi")
    // the exact-dedup survivors feed THREE consumers (span keys, span
    // dedup, and transitively every downstream write) — checkpoint so
    // the gate + hash + two-anti-join prefix computes once per batch,
    // mirroring the batch flagship's own checkpoint
    val exact = Materialize(keepFirst
      .join(textHist.distinct(), Seq("h1", "h2", "len"), "left_anti")
      .select(col(idCol), col(textCol)),
      eager = false)
    writeStore(keyed.select("h1", "h2", "len").distinct()
      .join(textHist.distinct(), Seq("h1", "h2", "len"), "left_anti"),
      textStoreDir)
    // 3. C4 span dedup against the span store
    val spanKeysB = graft.ext.Dedup
      .spanKeys(exact, idCol, textCol, spanSents)
      .select("h1", "h2").distinct()
    val spanHist = BatchStore.history(spark, spanStoreDir,
        "h1 LONG, h2 LONG, batch_id LONG", batchId)
      .fold(spanKeysB.limit(0))(_.select("h1", "h2"))
    val cleaned = graft.ext.Dedup
      .spanDedupAgainst(exact, idCol, textCol, spanHist, spanSents)
    writeStore(spanKeysB
      .join(spanHist.distinct(), Seq("h1", "h2"), "left_anti"),
      spanStoreDir)
    // 4. frozen docs, encoded under the FIXED merge table (map-only)
    val frozen = cleaned.filter(length(col("kept_text")) > 0)
      .select(col(idCol), col("kept_text").as(textCol))
    val enc = graft.ext.Bpe
      .encodeScalable(frozen, idCol, textCol, merges)
      .select(col(idCol),
        size(col("tokens")).cast("long").as("n_tokens"))
    // two consumers (frozen-doc write + manifest): checkpoint so the
    // span-dedup shuffle and the encode run once per batch
    val out = Materialize(frozen.join(enc, Seq(idCol)), eager = false)
    writeStore(out, storeDir)
    // 5. foldable integrity manifest, token-weighted
    writeStore(graft.ops.ShardShuffle.integrityManifest(out, idCol, textCol,
        col("n_tokens"), seed, numShards)
      .select(col("shard_id"), col("n_docs"), col("total_tokens"),
        col("checksum")), manifestDir)
    // the batch's last write is done: free both per-batch checkpoints
    Seq(exact, out).foreach(Materialize.release)
  }

  /** STORE-FORMAT guard for the r14 text-key discriminator: freeze
    * text-key stores gained a `len` column. A schema-padded read of a
    * pre-r14 store would surface `len` as null, the history anti-join
    * would match nothing, and exact dedup would silently re-admit
    * every historical duplicate — fail loudly instead. Costs one
    * parquet footer read per micro-batch; a missing or empty store
    * (zero part files) has no history to mis-read and passes. */
  private def requireTextKeyStoreCurrent(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val schema =
      try Some(spark.read.parquet(dir).schema)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    schema.foreach { s =>
      require(s.fieldNames.contains("len"),
        s"freeze text-key store at $dir predates the r14 `len` " +
          "discriminator column; resuming against it would silently " +
          "disable exact-dedup history. Point the freeze at a fresh " +
          "text-key store dir (or backfill len from the source docs).")
    }
  }
}
