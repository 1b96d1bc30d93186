package graft.streaming

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming IVF-PQ index maintenance: frozen-model encoding per
  * micro-batch, dynamic-partition-overwrite idempotence, and serving
  * from the accumulated store.
  */
class AnnStreamSpec extends SparkSpec {
  import spark.implicits._

  test("index stream encodes batches against the frozen model; a " +
    "partial crashed attempt is replaced on replay; the store serves") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sfDir)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val model = Similarity.ivfPqBuild(even)
    val root = specTempDir("ann-stream")
    val storeDir = root.resolve("codes").toString

    val oddVecs = odd.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val (half1, half2) = oddVecs.splitAt(oddVecs.length / 2)

    // simulate a CRASHED first attempt of batch 0: it wrote one
    // cluster's partition with WRONG codes, then died before the
    // checkpoint committed — the replay must replace it
    val attempt = Similarity.ivfPqAdd(model,
        half1.toSeq.toDF("vec_id", "embedding"))
      .withColumn("batch_id", lit(0L))
    val someCluster = attempt.select("cluster_id").head().getLong(0)
    attempt.filter(col("cluster_id") === someCluster)
      .withColumn("code", lit(999L))
      .write.partitionBy("batch_id", "cluster_id").parquet(storeDir)

    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.indexBatches(
      mem.toDF().toDF("vec_id", "embedding"), model,
      storeDir, root.resolve("ckpt").toString)
    try {
      mem.addData(half1.toIndexedSeq: _*)
      q.processAllAvailable()                   // batch 0 (the "replay")
      mem.addData(half2.toIndexedSeq: _*)
      q.processAllAvailable()                   // batch 1
    } finally q.stop()

    // store ≡ one-shot frozen-model encode of all odd vectors: the
    // garbage partition was rewritten (no code-999 rows survive)
    val got = AnnStream.readCodes(spark, storeDir)
      .orderBy("id", "sub")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val want = Similarity.ivfPqAdd(model, odd)
      .orderBy("id", "sub")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want,
      "streamed store must equal the one-shot encode after replay")

    // the grown index serves the streamed vectors
    val grown = model.copy(
      codes = model.codes.unionByName(AnnStream.readCodes(spark, storeDir)))
    val top = Similarity.topKMulti(grown.copy(nProbe = 16), emb, Seq(0L),
      10)
      .select("vec_id").as[Long].collect().toSet
    assert(top.exists(_ % 2 == 1),
      s"grown index must surface streamed odd vectors: $top")
    spark.catalog.clearCache()
  }

  test("re-emitted vector id: the read keeps only the NEWEST batch's " +
    "encoding (last write wins), never both") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sfDir)
    val model = Similarity.ivfPqBuild(emb.filter(col("vec_id") % 2 === 0))
    val root = specTempDir("ann-reemit")
    val storeDir = root.resolve("codes").toString
    val v = emb.filter(col("vec_id") === 1L)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].head()
    val zeros = (1L, Array.fill(v._2.length)(0.0f))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.indexBatches(
      mem.toDF().toDF("vec_id", "embedding"), model,
      storeDir, root.resolve("ckpt").toString)
    try {
      mem.addData(zeros)               // batch 0: stale embedding
      q.processAllAvailable()
      mem.addData(v)                   // batch 1: recomputed embedding
      q.processAllAvailable()
    } finally q.stop()
    val got = AnnStream.readCodes(spark, storeDir)
      .orderBy("sub").as[(Long, Long, Long, Long)].collect().toSeq
    val want = Similarity.ivfPqAdd(model, Seq(v).toDF("vec_id", "embedding"))
      .orderBy("sub").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want,
      s"read must return ONLY the batch-1 encoding of the re-emitted id")
    spark.catalog.clearCache()
  }

  test("compaction: batch-partition count stays bounded, last-write-wins " +
    "survives the fold, and a crashed attempt's partition is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sfDir)
    val model = Similarity.ivfPqBuild(emb.filter(col("vec_id") % 2 === 0))
    val root = specTempDir("ann-compact")
    val storeDir = root.resolve("codes").toString

    val odd = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val x = odd.head
    val rest = odd.tail.grouped(math.max(1, odd.tail.length / 5))
      .toSeq.take(5)
    assert(rest.length == 5)

    // crashed FIRST attempt of batch 2: garbage codes already on disk
    // when the compaction-due batch replays
    val garbage = Similarity.ivfPqAdd(model,
        Seq(x).toDF("vec_id", "embedding"))
      .withColumn("code", lit(999L)).withColumn("batch_id", lit(2L))
    garbage.write.partitionBy("batch_id", "cluster_id").parquet(storeDir)

    val stale = (x._1, Array.fill(x._2.length)(0.0f))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.indexBatches(
      mem.toDF().toDF("vec_id", "embedding"), model,
      storeDir, root.resolve("ckpt").toString, compactEvery = 2)
    try {
      // batch 0 carries a STALE embedding of x; batch 3 re-emits the
      // real one — the batch-4 compaction folds both and must keep
      // only the newer encoding
      mem.addData((Seq(stale) ++ rest(0)): _*); q.processAllAvailable()
      mem.addData(rest(1): _*); q.processAllAvailable()
      mem.addData(rest(2): _*); q.processAllAvailable() // compacts 0,1
      mem.addData((Seq(x) ++ rest(3)): _*); q.processAllAvailable()
      mem.addData(rest(4): _*); q.processAllAvailable() // compacts 1..3
    } finally q.stop()

    val dirs = new java.io.File(storeDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).sorted.toSeq
    assert(dirs == Seq("batch_id=3", "batch_id=4"),
      s"batch-partition count must be bounded by the window: $dirs")

    // the folded store serves exactly the one-shot encode of the FINAL
    // logical state (x at its recomputed embedding, garbage gone)
    val streamed = (Seq(x) ++ rest.flatten).sortBy(_._1)
    val got = AnnStream.readCodes(spark, storeDir)
      .orderBy("id", "sub").as[(Long, Long, Long, Long)].collect().toSeq
    val want = Similarity.ivfPqAdd(model,
        streamed.toSeq.toDF("vec_id", "embedding"))
      .orderBy("id", "sub").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want,
      "compacted store must equal the one-shot encode, newest-wins")
    assert(!got.exists(_._4 == 999L), "garbage codes must be dropped")
    spark.catalog.clearCache()
  }

  test("mergedCodes: an id present in both the build corpus and the " +
    "stream keeps only the stream encoding across the boundary") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val model = Similarity.ivfPqBuild(emb)
    // "recompute" vec 1's embedding as zeros and re-emit it
    val dim = emb.select("embedding").as[Array[Float]].head().length
    val streamed = Similarity.ivfPqAdd(model,
      Seq((1L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding"))
    val merged = AnnStream.mergedCodes(model.codes, streamed)
      .orderBy("id", "sub")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // exactly m rows for id 1 (never build+stream double), and they are
    // the STREAM encodings
    val id1 = merged.filter(_._1 == 1L)
    val want = streamed.orderBy("sub")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(id1 == want, s"id 1 must carry the stream encoding: $id1")
    // every other id is untouched build state
    val buildRest = model.codes.filter(col("id") =!= 1L)
      .orderBy("id", "sub").as[(Long, Long, Long, Long)].collect().toSeq
    assert(merged.filter(_._1 != 1L) == buildRest)
    spark.catalog.clearCache()
  }
}
