package graft.streaming

import graft.ext.Dedup
import graft.ops.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twins of the corpus/dedup operators: a crawl arrives as an
  * unbounded stream of documents and must be deduplicated INCREMENTALLY
  * — against the accumulated historical corpus and against itself —
  * without ever re-clustering history. The streaming counterpart of
  * [[Dedup.incrementalSurvivors]].
  */
object CorpusStream {

  /** Incremental streaming dedup: a document survives iff its canonical
    * token-set signature ([[Dedup.tokenSetSignature]]) is unseen in
    *
    *  1. the STREAM so far — `dropDuplicates` on the signature (state-
    *     store backed keep-first in arrival order; pass `watermark =
    *     Some(tsCol -> delay)` to bound that state by event time via
    *     `dropDuplicatesWithinWatermark`, the production shape), and
    *  2. the STATIC historical corpus — a stream-static join against
    *     the signature table. Structured Streaming supports stream-
    *     static inner/left-outer/left-semi but NOT left-anti, so the
    *     anti is expressed as left-outer + IS NULL on a static marker
    *     column (same semantics, supported plan).
    *
    * `corpus` is re-read per micro-batch (static side), so a growing
    * signature store (e.g. a parquet table appended between batches)
    * is picked up without restarting the query. */
  def incrementalDedup(
      docs: DataFrame, corpus: DataFrame, textCol: String,
      watermark: Option[(String, String)] = None): DataFrame = {
    val seen = corpus
      .select(Dedup.tokenSetSignature(col(textCol)).as("__sig"))
      .distinct()
      .withColumn("__seen", lit(1))
    val sigged = docs.withColumn("__sig",
      Dedup.tokenSetSignature(col(textCol)))
    val streamDeduped = watermark match {
      case Some((tsCol, delay)) =>
        sigged.withWatermark(tsCol, delay)
          .dropDuplicatesWithinWatermark(Seq("__sig"))
      case None => sigged.dropDuplicates("__sig")
    }
    streamDeduped
      .join(seen, Seq("__sig"), "left_outer")
      .filter(col("__seen").isNull)
      .drop("__sig", "__seen")
  }

  /** Streaming perceptual-hash image dedup: the typed mapPartitions
    * decode ([[graft.ext.Multimodal.Decoder.decode]]) is stateless, so
    * it runs unchanged inside a streaming query; keep-first on the
    * 4-band pHash then drops every later image that pools to the same
    * 64 above-mean cells (re-encodes, one-pixel edits). Dedup state is
    * one state-store row per DISTINCT visual signature — bounded by
    * content diversity, not stream length (an event-time-bounded
    * variant would thread the ts column through the decode like
    * [[incrementalDedup]]'s watermark arm). Returns (doc_id,
    * phash_bands) of the survivors. */
  def incrementalImageDedup(docs: DataFrame,
      idCol: String = "doc_id", binCol: String = "payload"): DataFrame =
    graft.ext.Multimodal.Decoder.decode(docs, idCol, binCol)
      .select(col("doc_id"), col("phash_bands"))
      .dropDuplicates("phash_bands")

  /** Streaming MERGE INTO a parquet snapshot — the lakehouse
    * `foreachBatch` upsert: each micro-batch keeps its highest-version
    * row per key (deterministic total order: version desc, then a
    * content hash of the remaining columns as tiebreaker — the
    * partition key itself is constant within the frame so it cannot
    * break ties), then replaces matching snapshot keys and appends the
    * rest — exactly `q45_merge_upsert`'s join shape, driven by a
    * stream. The merged snapshot is written to a side dir and swapped in
    * by [[StoreCompaction]]'s park-aside renames, so a COMPLETE table
    * exists on disk at every instant except the sub-second window
    * between the two renames, and a crash anywhere is recoverable on
    * the next batch start (production table formats replace the
    * renames with a manifest-pointer flip, same plan underneath). foreachBatch may
    * replay a batch after recovery; the merge is idempotent (left-anti
    * + union on the same keys), so a replay converges to the same
    * snapshot. Returns the started query. */
  def upsertBatches(docs: DataFrame, snapshotDir: String, keyCol: String,
      verCol: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(docs.writeStream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      // tiebreak version ties on a content hash of the non-key columns:
      // row-content-determined, never partition-layout-determined
      // (keyCol is the partition key — constant in the frame, useless
      // as a tiebreaker)
      val tieCols = batch.columns.filterNot(c => c == keyCol)
        .map(col).toIndexedSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCol)
        .orderBy(col(verCol).desc, xxhash64(tieCols: _*))
      val latest = batch
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val snap = new org.apache.hadoop.fs.Path(snapshotDir)
      val fs = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a crash between the swap's two renames left the complete
      // previous snapshot parked at __old — restore it so the merge
      // base (and readers) never see a missing table
      StoreCompaction.recoverParked(spark, snapshotDir)
      // a crash BEFORE the rename leaves an orphaned side dir; it is
      // never the live snapshot, so sweep all of them on batch start
      // (this batch's own tmp is written after this point)
      Option(fs.globStatus(
          new org.apache.hadoop.fs.Path(snapshotDir + "__tmp-*")))
        .foreach(_.foreach(s => fs.delete(s.getPath, true)))
      val merged =
        if (fs.exists(snap))
          spark.read.parquet(snapshotDir)
            .join(latest.select(keyCol), Seq(keyCol), "left_anti")
            .unionByName(latest)
        else latest
      val tmp = new org.apache.hadoop.fs.Path(
        snapshotDir + s"__tmp-$batchId")
      merged.write.mode("overwrite").parquet(tmp.toString)
      StoreCompaction.swapIn(fs, snapshotDir, tmp)
    }

  /** Streaming NEAR-dup dedup against an accumulating band-key store —
    * the LSH companion to [[incrementalDedup]]'s exact signatures: each
    * micro-batch computes MinHash band keys
    * ([[Dedup.minhashSignatures]] + [[Dedup.bandKeyCols]], the fully
    * codegen'd index form), drops every document any of whose band
    * keys (1) exists in the parquet band store (history) or (2) is
    * claimed by a smaller doc id inside the same batch, then appends
    * the batch's new band keys to the store and writes survivors to
    * `survivorsDir/batch-<id>` (overwrite per batch dir ⇒ replay after
    * a crash converges; partially-appended store rows are harmless —
    * the store is read `distinct`).
    *
    * In-batch suppression is the standard one-pass streaming
    * approximation: ALL batch band keys claim, including keys of
    * documents that are themselves dropped, so a chain a~b, b~c (a≁c)
    * drops both b and c — conservative (never under-dedups) and
    * order-deterministic (min-id claim, not arrival order).
    *
    * Replay safety: store rows carry the `batch_id` that appended them,
    * and the history view EXCLUDES rows stamped with the CURRENT batch
    * id — so a batch replayed after a crash (foreachBatch may re-run
    * the last uncommitted batch) never collides with its own
    * first-attempt append; the replay recomputes the identical survivor
    * set and overwrites `survivors/batch-<id>` with it. Re-appended
    * band rows are harmless duplicates (the store is read `distinct`
    * and compaction folds them away).
    *
    * State: the band-key store is bands·(distinct content) rows. With
    * `retentionBatches = None` it is bounded by corpus diversity, never
    * by stream length; on an OPEN-world stream (an endless crawl) pass
    * `retentionBatches = Some(r)` and dedup history becomes a sliding
    * window — only bands appended within the last `r` batches suppress,
    * a band unseen for longer than the window re-admits its content
    * (the retention trade every TTL'd dedup store makes), and every
    * `compactEvery` batches the store is physically rewritten without
    * the expired rows (park-aside rename swap, crash-recovered on the
    * next batch) so disk is bounded by the window, not corpus
    * lifetime. */
  def nearDedupBatches(docs: DataFrame, storeDir: String,
      survivorsDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      profile: graft.ext.DedupProfile = graft.ext.DedupProfile.default,
      retentionBatches: Option[Long] = None, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(docs.writeStream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val keyed = Dedup.minhashSignatures(
          Dedup.tokenIndex(batch, idCol, textCol, profile.shingleN),
          profile.bands * profile.rowsPerBand)
        .select(col("id"), explode(
          Dedup.bandKeyCols(profile.bands, profile.rowsPerBand))
          .as("band"))
      val store = new org.apache.hadoop.fs.Path(storeDir)
      val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // recover a compaction crash, then (under a retention window)
      // physically rewrite the store without expired rows — the
      // shared park-aside swap contract ([[StoreCompaction]], also
      // the AnnStream/DsirStream compactor). Unlike those stores this
      // fold need not exclude the current batch: a crashed attempt's
      // re-appended band rows are harmless duplicates (the store is
      // read `distinct`), per the replay-safety note above.
      StoreCompaction.recoverParked(spark, storeDir)
      retentionBatches.foreach { r =>
        if (StoreCompaction.due(batchId, compactEvery))
          StoreCompaction.swapRewrite(spark, storeDir)(
            dir => spark.read.parquet(dir),
            all => all.filter(col("batch_id") >= batchId - r),
            (df, dir) => df.write.mode("overwrite").parquet(dir))
      }
      val histBase =
        if (fs.exists(store)) spark.read.parquet(storeDir)
        else keyed.select("band").limit(0)
          .withColumn("batch_id", lit(-1L))
      val inWindow = retentionBatches.fold(histBase)(r =>
        histBase.filter(col("batch_id") >= batchId - r))
      val hist = inWindow
        // replay safety: a previous ATTEMPT of this same batch may
        // have appended already — its rows are not history
        .filter(col("batch_id") =!= batchId)
        .select("band").distinct()
        .withColumn("__seen", lit(1))
      val claims = keyed.groupBy("band").agg(min("id").as("__first"))
      val flags = keyed
        .join(hist, Seq("band"), "left_outer")
        .join(claims, Seq("band"))
        .groupBy("id")
        .agg(max(when(col("__seen").isNotNull ||
          col("__first") < col("id"), 1).otherwise(0)).as("__dup"))
      val survivors = batch.join(
        flags.filter(col("__dup") === 0)
          .select(col("id").as(idCol)), Seq(idCol), "left_semi")
      survivors.write.mode("overwrite")
        .parquet(s"$survivorsDir/batch-$batchId")
      keyed.select("band").distinct()
        .join(hist, Seq("band"), "left_anti")
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(storeDir)
    }

  /** Streaming PII scrub: [[graft.ext.TextAnalysis.piiRedact]] plus the
    * per-category counts, applied to a document stream. Entirely
    * stateless (a pure projection — no state store, no watermark, no
    * shuffle), so the same column expressions run identically in batch
    * and streaming; the count columns let a downstream sink alert on
    * PII-rate drift per micro-batch without a second scan. */
  def redactPii(docs: DataFrame, textCol: String): DataFrame =
    docs.select(
      (docs.columns.filterNot(_ == textCol).map(col).toIndexedSeq :+
        graft.ext.TextAnalysis.piiRedact(col(textCol)).as(textCol)) ++
        graft.ext.TextAnalysis.piiCounts(col(textCol)): _*)

  /** Streaming C4-style wordlist gate — the blocklist stage of the
    * crawl ingest, per micro-batch inside `foreachBatch` (the hits
    * pipeline carries a per-doc aggregate, which mid-stream would
    * become a stateful agg; batch-scoped it is the ordinary
    * [[graft.ext.TextAnalysis.wordlistFilter]] plan with the wordlist
    * frozen at stream start — swap the list out of band like the ANN
    * model / language profiles). Survivors land in a [[BatchStore]]
    * (replay contract there). */
  def wordlistGateBatches(docs: DataFrame, words: DataFrame,
      storeDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxPermil: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.sinkWith(docs, words, storeDir, checkpointDir) {
      (batch, frozen) => graft.ext.TextAnalysis
        .wordlistFilter(batch, idCol, textCol, frozen, maxPermil)
    }

  /** Streaming jusText extraction — markup arrives, boilerplate-free
    * prose lands: [[graft.ext.HtmlExtract.justextText]] per
    * micro-batch (classification is map-only, the context revision is
    * one batch-scoped doc-keyed window, the reassembly one doc-keyed
    * agg — documents never span micro-batches, so nothing is stateful
    * mid-stream). The stopword list is frozen at stream start.
    * All-boilerplate documents drop inside the batch, survivors carry
    * `(n_blocks, n_kept, text)` into a [[BatchStore]] (replay contract
    * there). */
  def justextExtractBatches(docs: DataFrame, stopwords: DataFrame,
      storeDir: String, checkpointDir: String,
      idCol: String = "doc_id", htmlCol: String = "html",
      maxLinkPermil: Int = 200)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.sinkWith(docs, stopwords, storeDir, checkpointDir) {
      (batch, frozen) => graft.ext.HtmlExtract
        .justextText(batch, idCol, htmlCol, frozen,
          maxLinkPermil = maxLinkPermil)
    }

  /** Streaming trained-quality gate — the GD-trained logistic model
    * ([[graft.ext.TextAnalysis.logisticTrain]]) applied per
    * micro-batch: survivors are documents the model accepts
    * (margin ≥ 0). The model is frozen at stream start (retrain out of
    * band and restart; a live training lineage would re-run the whole
    * GD loop every micro-batch). `dim` MUST match training (hashed
    * buckets disagree silently otherwise — the same
    * visible-at-call-site contract as the langId gate). Survivors carry
    * `margin_fp` and `prob` for downstream mixture accounting and land
    * in a [[BatchStore]] (replay contract there). */
  def qualityGateBatches(docs: DataFrame, model: DataFrame,
      storeDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      dim: Int = 1024)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.sinkWith(docs, model, storeDir, checkpointDir) {
      (batch, frozen) =>
        val scored = graft.ext.TextAnalysis
          .logisticScore(batch, idCol, textCol, frozen, dim)
          .filter(col("accept"))
          .select(col(idCol), col("margin_fp"), col("prob"))
        batch.join(scored, Seq(idCol))
    }

  /** Streaming WET ingest — the crawl front door as a stream: binary
    * WARC/WET blobs arrive (one row per fetched file/chunk),
    * [[graft.ext.Warc.wetRecords]] extracts the records per micro-batch
    * — a map-only stage, so the only cluster cost at any rate is the
    * record store write — and records land in a [[BatchStore]] (replay
    * contract there).
    *
    * Re-crawls: a blob id re-emitted in a later batch (the crawler
    * refreshed the page set) leaves BOTH record sets in the store;
    * [[readWetStore]] applies blob-keyed last-write-wins, and the
    * compaction fold applies the same rule physically — every
    * `compactEvery` batches (0 disables) history collapses to ONE
    * merged `batch_id = current-1` partition ([[BatchStore.compact]]),
    * so the partition count is bounded by `compactEvery + 1` instead of
    * stream lifetime. */
  def wetIngestBatches(blobs: DataFrame, storeDir: String,
      checkpointDir: String, idCol: String = "blob_id",
      binCol: String = "payload", compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(blobs.writeStream, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      BatchStore.compact(spark, storeDir, WetSchema, batchId,
        compactEvery)(BatchStore.newest(_, "blob_id"))
      BatchStore.write(graft.ext.Warc.wetRecords(batch, idCol, binCol).toDF(),
        batchId, storeDir)
    }

  /** The WET record store with blob-keyed LAST WRITE WINS applied (the
    * compacted-log read shared with [[AnnStream.readCodes]]): only each
    * blob's newest batch is visible, so a re-crawled page set fully
    * replaces its old records. */
  def readWetStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    BatchStore.newest(BatchStore.read(spark, storeDir, WetSchema), "blob_id")
      .select("blob_id", "rec_index", "warc_type", "target_uri",
        "warc_date", "record_id", "content_length", "text")

  private val WetSchema = "blob_id LONG, rec_index INT, " +
    "warc_type STRING, target_uri STRING, warc_date STRING, " +
    "record_id STRING, content_length LONG, text STRING, batch_id LONG"

  /** Streaming decontamination gate — the Bloom probe of
    * [[graft.ext.Decontamination.bloomClean]] applied per micro-batch
    * against a benchmark bitmap FROZEN at stream start (the bitmap is
    * bounded driver state riding every batch's plan as a literal
    * array — rebuild it out of band when the eval suite changes, like
    * the ANN index and the langId model). The probe is a map-only
    * filter with no false negatives, so every document with real
    * benchmark n-gram overlap is guaranteed dropped mid-stream; clean
    * rows land in a [[BatchStore]] (replay contract there). */
  def bloomGateBatches(docs: DataFrame, bits: Array[Long], mBits: Int,
      k: Int, n: Int, storeDir: String, checkpointDir: String,
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.sink(docs, storeDir, checkpointDir) { batch =>
      graft.ext.Decontamination
        .bloomClean(batch, textCol, bits, mBits, k, n)
    }

  /** Streaming language gate — the crawl-ingest stage that keeps only
    * target-language documents using the TRAINED hashed-linear
    * classifier ([[graft.ext.TextAnalysis.langIdLinear]], model frozen
    * at stream start; retrain out of band like the ANN index). The
    * classifier's per-document argmax is a plain window, unsupported
    * mid-stream, so classification runs inside `foreachBatch` (every
    * stage there is the ordinary batch operator — nothing forked) and
    * survivors land in a [[BatchStore]] (replay contract there). The
    * model is frozen here, not in every caller: a live `langIdTrain`
    * lineage would re-tokenize the whole seed corpus every micro-batch.
    * Kept rows carry `predicted` and `score` for downstream mixture
    * accounting. */
  def langIdGateBatches(docs: DataFrame, model: DataFrame,
      keepLangs: Set[String], storeDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      dim: Int = 256, n: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keepLangs.nonEmpty, "langIdGateBatches: empty language set")
    // dim/n MUST match what the model was trained with: grams hash into
    // a dim-sized bucket space at train AND apply time, so a mismatched
    // pair silently mis-scores every document (no error is possible —
    // the buckets just disagree). The parameters ride the call
    // signature rather than the model frame so the contract is visible
    // at the call site.
    BatchStore.sinkWith(docs, model, storeDir, checkpointDir) {
      (batch, frozen) =>
        val pred = graft.ext.TextAnalysis
          .langIdLinear(batch, idCol, textCol, frozen, dim, n)
          .filter(col("predicted").isin(keepLangs.toSeq: _*))
        batch.join(pred, Seq(idCol))
    }
  }

  /** Streaming mixture gate — `pipeline_mixture_schedule`'s selection
    * as a stream: each micro-batch keeps a document iff
    * h31("mix#<id>") mod 1000 < the plan's rate for its source. The
    * rate PLAN is computed batch-side and frozen here (the "a stream
    * cannot train" discipline — rates need corpus-wide token masses a
    * stream never has; one eager checkpoint makes the |sources|-row
    * plan a stable snapshot for the stream's lifetime), and the
    * selection itself is a STATELESS map-only predicate — the same
    * expression a 1000-executor batch fleet evaluates, so stream and
    * batch keep literally identical document sets (differential
    * spec). Output lands in a [[BatchStore]] (replay contract there). */
  def mixtureGateBatches(docs: DataFrame, plan: DataFrame,
      storeDir: String, checkpointDir: String,
      idCol: String = "doc_id", sourceCol: String = "source")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(plan.columns.contains(sourceCol) &&
      plan.columns.contains("rate_permil"),
      s"mixtureGateBatches: plan needs ($sourceCol, rate_permil)")
    BatchStore.sinkWith(docs, plan, storeDir, checkpointDir) {
      (batch, frozen) =>
        val keep = graft.ext.TextAnalysis.tokenHash31(
          concat(lit("mix#"), col(idCol).cast("string"))) % 1000L <
          col("rate_permil")
        batch
          .join(broadcast(frozen.select(col(sourceCol),
            col("rate_permil"))), Seq(sourceCol))
          .filter(keep)
          .drop("rate_permil")
    }
  }

  final case class DomainSeen(n: Long)
  final case class QuotaDoc(doc_id: Long, domain: String,
      domain_rank: Long)

  /** Streaming per-domain contribution quota — the stateful twin of
    * the `pipeline_domain_cap` governance query, and the shape a crawl
    * ingests under a PER-PUBLISHER byte/doc budget: one `GroupState`
    * counter per registered domain (bounded by |domains|, not corpus
    * size), each micro-batch's group sorted by `doc_id` for
    * determinism (streams deliver unordered), ranks continuing across
    * batches, and ONLY under-quota documents emitted. Unlike the batch
    * window there is no shuffle-the-corpus-again step per batch — the
    * domain-keyed state store IS the rank memory. `NoTimeout`: a
    * domain's counter must outlive any lull (politeness pauses are the
    * norm); the state row is one long, so |domains| rows ride for the
    * stream's lifetime by design. */
  def domainQuota(docs: DataFrame, domainCol: String, idCol: String,
      cap: Long): org.apache.spark.sql.Dataset[QuotaDoc] = {
    require(cap >= 1L, s"domainQuota: cap >= 1 ($cap)")
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(domainCol).cast("string"), col(idCol).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DomainSeen, QuotaDoc](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (domain: String, batch: Iterator[(String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[DomainSeen]) =>
          val before = state.getOption.map(_.n).getOrElse(0L)
          val ids = batch.map(_._2).toArray.sorted
          state.update(DomainSeen(before + ids.length))
          ids.iterator.zipWithIndex
            .map { case (id, i) => QuotaDoc(id, domain, before + i + 1) }
            .filter(_.domain_rank <= cap)
      }
  }

  /** Streaming C4 span dedup — [[graft.ext.Dedup.spanDedup]]'s
    * incremental form: each micro-batch dedups against the accumulated
    * SPAN STORE (the `(h1, h2)` keys of every span seen so far), then
    * appends its own new span keys. When document ids increase
    * monotonically across batches, batch-by-batch output equals one
    * global `spanDedup` over the union (differential spec) — the
    * first occurrence of a span is then always in the earliest batch,
    * which is exactly the batch form's `(doc_id, position)` keeper.
    *
    * Both the cleaned output and the span keys are [[BatchStore]]s
    * (replay contract there); appended keys are anti-joined against
    * history, so the store holds each span key once (a plain append
    * would double every key of a crashed attempt; replayed-batch
    * idempotency is spec-pinned). Store growth is the number of
    * DISTINCT spans — the corpus's novel-text volume, not its raw
    * volume. */
  def spanDedupBatches(docs: DataFrame, spanStoreDir: String,
      storeDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      spanSents: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(docs.writeStream, checkpointDir) { (batch, batchId) =>
      spanDedupBatch(batch, batchId, spanStoreDir, storeDir,
        idCol, textCol, spanSents)
    }

  /** STORE-FORMAT guard for the r13 span-store layout change: the
    * store moved from plain-append part files at the root (batch_id
    * as a data column) to `batch_id=`-partitioned dynamic overwrite.
    * A stream resuming against a legacy store would write partition
    * dirs next to root part files — a mixed layout Spark's partition
    * discovery rejects, wedging the stream at an opaque point. Fail
    * FIRST with the upgrade instruction instead: one root listing per
    * micro-batch, trivial next to the batch itself. */
  private def requirePartitionedKeyStore(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val store = new org.apache.hadoop.fs.Path(dir)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = fs.exists(store) && fs.listStatus(store).exists(st =>
      st.isFile && st.getPath.getName.startsWith("part-"))
    require(!legacy,
      s"span-key store at $store was written by the pre-r13 plain-append " +
        "layout (part files at the store root); the current layout " +
        "is batch_id-partitioned dynamic overwrite and the two " +
        "cannot mix. Point the stream at a fresh store dir (history " +
        "restarts empty — already-emitted duplicates stay emitted), " +
        "or migrate by rewriting the legacy rows partitioned by " +
        "batch_id.")
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

  /** One [[spanDedupBatches]] micro-batch — package-visible so the
    * crash-replay contract (same `batchId` re-run leaves both stores
    * byte-identical) is directly testable without faking a checkpoint
    * crash. */
  private[graft] def spanDedupBatch(batch: DataFrame, batchId: Long,
      spanStoreDir: String, storeDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      spanSents: Int = 3): Unit = {
    val spark = batch.sparkSession
    val batchKeys = graft.ext.Dedup
      .spanKeys(batch, idCol, textCol, spanSents)
      .select("h1", "h2").distinct()
    requirePartitionedKeyStore(spark, spanStoreDir)
    val hist = BatchStore.history(spark, spanStoreDir,
        "h1 LONG, h2 LONG, batch_id LONG", batchId)
      .fold(batchKeys.limit(0))(_.select("h1", "h2"))
    BatchStore.write(graft.ext.Dedup
      .spanDedupAgainst(batch, idCol, textCol, hist, spanSents),
      batchId, storeDir)
    BatchStore.write(
      batchKeys.join(hist.distinct(), Seq("h1", "h2"), "left_anti"),
      batchId, spanStoreDir)
  }

  final case class DomainSpent(cum: Long)
  final case class BudgetDoc(doc_id: Long, domain: String, cost: Long,
      domain_cum: Long)

  /** Streaming per-domain TOKEN budget — [[domainQuota]]'s
    * cost-denominated twin, the shape a real crawl ingests under:
    * budgets are byte/token allowances per publisher, not document
    * counts (the batch form is `Frontier.budgetCut`'s per-host leg).
    * One `GroupState` long per registered domain carries the
    * cumulative cost; each micro-batch's group is sorted by `doc_id`
    * for determinism, the INCLUSIVE running cost continues across
    * batches, and a document is emitted only while its inclusive
    * cumulative cost stays within `budget` — identical semantics to
    * the batch window `sum(cost) OVER (PARTITION BY domain ORDER BY
    * doc_id) <= budget` (differential-tested). The state accumulates
    * EVERY document's cost, kept or dropped, exactly like the batch
    * window sums all rows — with non-negative costs the cut is final
    * once crossed (no skip-ahead), matching `budgetCut`'s contract.
    * State is one long per domain; `NoTimeout` because politeness
    * lulls are the norm. */
  def domainTokenQuota(docs: DataFrame, domainCol: String,
      idCol: String, costCol: String, budget: Long)
      : org.apache.spark.sql.Dataset[BudgetDoc] = {
    require(budget >= 1L, s"domainTokenQuota: budget >= 1 ($budget)")
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(domainCol).cast("string"), col(idCol).cast("long"),
        col(costCol).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DomainSpent, BudgetDoc](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (domain: String, batch: Iterator[(String, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[DomainSpent]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val rows = batch.map(t => (t._2, t._3)).toArray.sortBy(_._1)
          val out = rows.map { case (id, cost) =>
            cum += cost
            BudgetDoc(id, domain, cost, cum)
          }
          state.update(DomainSpent(cum))
          out.iterator.filter(_.domain_cum <= budget)
      }
  }

  /** Streaming JSONL ingest with quarantine — the continuous form of
    * [[graft.sources.JsonlCorpus.load]], same contract: never fail the
    * stream, never silently drop. Each micro-batch parses raw lines
    * against the EXPLICIT schema (`from_json` is null on malformed
    * input — no inference job, no exception path); typed rows land in
    * the corpus store, and every malformed or identity-less line lands
    * in a quarantine store with the RAW line preserved for replay.
    * Both are [[BatchStore]]s (replay contract there). Map-only per batch — a parse split,
    * two writes, no shuffle. */
  def jsonlIngestBatches(lines: DataFrame, storeDir: String,
      quarantineDir: String, checkpointDir: String,
      docSchema: org.apache.spark.sql.types.StructType =
        graft.sources.JsonlCorpus.schema,
      lineCol: String = "line")
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(lines.writeStream, checkpointDir) { (batch, batchId) =>
      val parsed = batch.withColumn("__p",
        from_json(col(lineCol), docSchema))
      val bad = col("__p").isNull || col("__p.doc_id").isNull
      BatchStore.write(parsed.filter(!bad)
          .select(docSchema.fieldNames.toIndexedSeq
            .map(f => col("__p." + f)): _*),
        batchId, storeDir)
      BatchStore.write(parsed.filter(bad).select(col(lineCol).as("raw")),
        batchId, quarantineDir)
    }

  /** Streaming export-integrity manifest — one manifest row per
    * (batch, shard) appended per micro-batch. Because the checksum is
    * an ORDER-INDEPENDENT integer sum (Σ h31(id ∥ '|' ∥ content)),
    * per-batch manifests FOLD: summing checksums and counts across
    * batch rows of one shard reproduces exactly the batch-side
    * [[graft.ops.ShardShuffle.integrityManifest]] over the union of
    * the batches — the consumer revalidates a continuously-exported
    * corpus without ever re-reading old batches together. Append-mode
    * parquet (manifest rows are immutable facts; a replayed batch
    * re-appends its rows, and the reader dedups on (batch_id,
    * shard_id) — last write wins is unnecessary because replays are
    * bit-identical). */
  def manifestBatches(docs: DataFrame, storeDir: String,
      checkpointDir: String, seed: String, numShards: Int,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(docs.writeStream, checkpointDir) { (batch, batchId) =>
      graft.ops.ShardShuffle.integrityManifest(batch, idCol, textCol,
          graft.ext.TextAnalysis.nTokens(col(textCol)), seed,
          numShards)
        .select(lit(batchId).as("batch_id"), col("shard_id"),
          col("n_docs"), col("total_tokens"), col("checksum"))
        .write.mode("append").parquet(storeDir)
    }

  /** Fold a [[manifestBatches]] store to per-shard totals (distinct on
    * (batch_id, shard_id) first — replays are bit-identical, so dedup
    * is exact). The result equals the batch-side integrity manifest's
    * (n_docs, total_tokens, checksum) over all batches' rows. */
  def foldManifest(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .dropDuplicates("batch_id", "shard_id")
      .groupBy("shard_id")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("total_tokens").cast("long").as("total_tokens"),
        sum("checksum").cast("long").as("checksum"))

  /** Streaming DATA FREEZE — the incremental twin of the graded batch
    * flagship `pipeline_data_freeze`. Per micro-batch: curation GATE
    * (caller-supplied boolean column — map-only; null-text rows drop
    * here too, explicitly — a text freeze cannot key or encode a
    * null, and the quarantine ingest is the accounting path for
    * identity-less rows), EXACT dedup against
    * an accumulated TEXT-KEY store (double 31-bit hash of the full
    * text PLUS its character length, so a false drop needs a
    * same-length double-hash collision rather than ~62 colliding
    * hash bits; the within-batch keeper is the min id, cross-batch
    * re-occurrences drop — with monotone ids this equals the batch
    * min-id keeper over the union), C4 SPAN dedup against the
    * accumulated span store, map-only BPE encode under a FIXED merge
    * table (a stream cannot train — ship the table from a batch
    * train), the frozen-doc store, and the foldable per-(batch,
    * shard) integrity manifest. Packing is deliberately absent: bins
    * are a global-prefix-order construct the batch freeze assigns at
    * export time over the frozen store.
    *
    * Every store (text keys, span keys, frozen docs, manifest rows) is
    * a [[BatchStore]] (replay contract there): a crash-replayed batch
    * replaces its own partitions byte-identically (spec-pinned). Store
    * growth: text keys ≤
    * distinct documents, span keys ≤ distinct spans (novel-text
    * volume), manifest rows = batches × shards.
    *
    * With document ids increasing across batches, the union of frozen
    * outputs EQUALS the batch composition gate → exact dedup → span
    * dedup → encode over all documents, and the folded manifest
    * equals the batch `integrityManifest` over that union
    * (differential spec). */
  def freezeBatches(docs: DataFrame,
      gate: org.apache.spark.sql.Column,
      merges: Seq[graft.ext.Bpe.Merge],
      textStoreDir: String, spanStoreDir: String, storeDir: String,
      manifestDir: String, checkpointDir: String,
      seed: String, numShards: Int,
      idCol: String = "doc_id", textCol: String = "text",
      spanSents: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.start(docs.writeStream, checkpointDir) { (batch, batchId) =>
      freezeBatch(batch, batchId, gate, merges, textStoreDir,
        spanStoreDir, storeDir, manifestDir, seed, numShards,
        idCol, textCol, spanSents)
    }

  /** One [[freezeBatches]] micro-batch — package-visible so the
    * crash-replay contract is directly testable. Both per-batch
    * checkpoints are released after the batch's last write. */
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
}
