package graft
import org.apache.spark.sql.SparkSession

/** Scaling-curve harness: times the heaviest queries at three scale
  * factors and fits per-query growth exponents — the empirical leg
  * under the 100 TB design claims. A keyed/broadcast operator should
  * grow ≈ linearly in its driver table; a super-linear exponent at
  * small SF is exactly the constant-hidden blowup that would detonate
  * at cluster scale.
  *
  * The exponent is fitted against each query's ACTUAL driver-table row
  * count, not the nominal sf: the fixtures scale unevenly (documents
  * are 500/500/5000 across sf0.001/0.01/0.1, embeddings 500/500/2000,
  * lineitem a clean 10×/10×), so a nominal-sf fit would report garbage
  * for the text/ANN families. Points with equal row counts collapse to
  * the mean time at that size; `exp_tail` uses the two LARGEST distinct
  * sizes (the small-size points carry ~0.3-0.5 s of fixed plan/launch
  * overhead that biases a full fit toward sub-linear), `exp_fit` is the
  * least-squares log-log slope over all distinct sizes.
  *
  * Run as `graft.Dev scale sfDir [sfDir ...]`; emits one JSON line to
  * stdout and `$SPARK_GRAFT_CURVE_OUT`.
  */
object ScaleCurve {

  /** query → the table whose row count drives its cost. */
  val Targets: Seq[(String, String)] = Seq(
    "q1_pricing_agg" -> "lineitem",
    "q5_region_revenue" -> "lineitem",
    "q54_bucketed_join" -> "lineitem",
    "graph_triangles" -> "events",
    "graph_kcore" -> "events",
    "text_lm_score" -> "documents",
    "train_triplets" -> "documents",
    "dedup_pipeline_survivors" -> "documents",
    "dedup_minhash_lsh" -> "documents",
    "text_dsir_resample" -> "documents",
    "q49_cdc_compact" -> "documents",
    "q22_bpe_pairs" -> "documents",
    "pipeline_crawl_refresh" -> "documents",
    "ann_ivfpq_topk" -> "embeddings",
    "ann_ivfpq_multi" -> "embeddings",
    "pipeline_html_curate" -> "documents",
    "text_html_extract" -> "documents",
    "dedup_best_in_cluster" -> "documents",
    "text_wet_extract" -> "documents",
    "text_shard_plan" -> "documents",
    "text_logit_gate" -> "documents",
    "pipeline_link_rank" -> "documents",
    "pipeline_justext_extract" -> "documents",
    "pipeline_fetch_budget" -> "documents",
    "sim_banded_derived" -> "embeddings",
    "pipeline_bpe_tokenize" -> "documents",
    "text_contamination_bloom" -> "documents",
    "pipeline_corpus_funnel" -> "documents",
    "pipeline_export_manifest" -> "documents",
    "train_dpo_pairs" -> "documents",
    "dedup_band_store" -> "documents",
    "pipeline_bpe_scaled" -> "documents",
    "text_bpe_pretok" -> "documents",
    "text_bpe_bytelevel" -> "documents",
    "pipeline_bpe_vocab8k" -> "documents",
    "pipeline_bpe_byte_tokenize" -> "documents",
    "pipeline_data_freeze" -> "documents",
    "text_bpe_store" -> "documents",
    "pipeline_freeze_export" -> "documents",
    "text_unigram_train" -> "documents",
    "pipeline_unigram_encode" -> "documents",
    "text_unigram_store" -> "documents",
    "pipeline_bpe_chunks" -> "documents",
    "text_unigram_score" -> "documents",
    "pipeline_tokenizer_adapt" -> "documents",
    "pipeline_token_ids" -> "documents",
    "text_wordpiece_train" -> "documents",
    "pipeline_wordpiece_encode" -> "documents",
    "text_wordpiece_store" -> "documents",
    "text_tokenizer_eval" -> "documents",
    "pipeline_length_batches" -> "documents",
    "pipeline_packing_layout" -> "documents",
    "text_wordpiece_roundtrip" -> "documents",
    "mm_interleaved_plan" -> "documents",
    "text_unigram_roundtrip" -> "documents",
    "pipeline_token_batches" -> "documents",
    "pipeline_sft_shards" -> "documents",
    "pipeline_token_decode" -> "documents",
    "dedup_suffix_spans" -> "documents",
    "pipeline_freeze_exact" -> "documents",
    "pipeline_vlm_shards" -> "documents",
    "pipeline_dpo_shards" -> "documents",
    "pipeline_sft_windows" -> "documents",
    "pipeline_fim_shards" -> "documents",
    // r16 verdict #6: the removal half is the HEAVIER suffix query —
    // curve it beside dedup_suffix_spans
    "dedup_suffix_removal" -> "documents",
    "pipeline_tool_shards" -> "documents",
    "dedup_suffix_cross_shard" -> "documents",
    "export_tool_shards" -> "documents",
    "pipeline_epoch_shuffle" -> "documents",
    "pipeline_epoch_batches" -> "documents",
    "pipeline_mixture_schedule" -> "documents",
    "pipeline_worker_assign" -> "documents",
    "pipeline_mixture_anneal" -> "documents",
    "pipeline_domain_reweight" -> "documents",
    "pipeline_context_shards" -> "documents",
    "pipeline_split_leakage" -> "documents",
    "pipeline_train_steps" -> "documents",
    "pipeline_packing_efficiency" -> "documents",
    "pipeline_quality_frontier" -> "documents",
    "pipeline_budget_select" -> "documents",
    "pipeline_loader_plan" -> "documents")

  /** Curve-only PROBES — measured and fitted like Targets but backed
    * by local fns instead of graded SparkEntry queries, for scale
    * datapoints too expensive for the per-round Verify/Bench loops.
    * probe_bpe_train32k: the full trainLocal loop at 32768 merges
    * over the 384-bucket salted surface (the merge-forest exhaustion
    * bound scales ~linearly in buckets; 96 tops out ~11k) — the
    * SCALE.md §14 claim that trainer cost is per-merge flat, measured
    * 4x past the graded 8192-merge datapoint. */
  /** k salted copies of the src0 shard for the suffix-array capacity
    * probe `probe_suffix_chars`.
    *
    * The per-copy salt is a token SUFFIX ("tok_c"), which de-dups
    * every 20-char window that touches a token boundary or a salt; a
    * window can only survive identical across copies by lying wholly
    * inside one raw token's first 20+ characters. The fixture has no
    * such token, and that assumption is ASSERTED here (r16 ADVICE:
    * the linear-span-volume claim was fixture-dependent and
    * unchecked) — a fixture change fails the probe loudly instead of
    * silently bending the measured curve quadratic. */
  private def saltedSaCorpus(s: SparkSession, dir: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val src = Tables.documents(s, dir)
      .filter(col("source") === "src0")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    val maxTok = src
      .select(array_max(transform(split(col("text"), " "), t => length(t)))
        .as("m"))
      .agg(max(col("m"))).head().getInt(0)
    require(maxTok < 20,
      s"saltedSaCorpus: fixture has a $maxTok-char token — a raw " +
        "token >= 20 chars carries an unsalted repeated window " +
        "across copies, making span volume quadratic in k; interleave " +
        "the salt before trusting the probe")
    src
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(k - 1))).as("c"))
      .select((col("doc_id") * k + col("c")).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("c").cast("string"))))
          .as("text"))
  }

  val ProbeTargets: Seq[(String, String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    ("probe_bpe_train32k", "documents", (s, dir) => {
      import s.implicits._
      val (words, _) =
        graft.queries.BpeQueries.saltedCorpus(s, dir, buckets = 384)
      val big = graft.ext.Bpe.trainLocal(words, 32768)
      Seq((big.size.toLong, words.count()))
        .toDF("merges_learned", "vocab_rows")
    }),
    // the r14 verdict's ask #6: measured depth curves for the OTHER
    // two tokenizer families at production-ish vocab, same salted
    // surface as the BPE probes
    ("probe_wordpiece_train8k", "documents", (s, dir) => {
      import s.implicits._
      val (words, _) =
        graft.queries.BpeQueries.saltedCorpus(s, dir, buckets = 384)
      val t = graft.ext.WordPiece.trainLocal(words, numMerges = 8192)
      Seq((t.merges.size.toLong, words.count()))
        .toDF("merges_learned", "vocab_rows")
    }),
    ("probe_unigram_seed8k", "documents", (s, dir) => {
      import s.implicits._
      val (words, _) =
        graft.queries.BpeQueries.saltedCorpus(s, dir, buckets = 384)
      val pieces = graft.ext.Unigram.trainLocal(words,
        maxPieceLen = 4, seedSize = 8192, emRounds = 2)
      Seq((pieces.size.toLong, words.count()))
        .toDF("pieces_learned", "vocab_rows")
    }),
    // the r15 verdict's ask #5: the suffix array measured at ~16× the
    // character volume the graded dedup_suffix_spans processes — the
    // positions() table is one row per character, the one deliberately
    // per-char operator in the suite, so its capacity claim gets a
    // datapoint past fixture scale. 16 salted copies of the src0
    // shard; the per-copy token salt keeps long repeats WITHIN a copy
    // (two copies disagree on every token suffix), so duplicated-span
    // volume scales linearly with copies instead of quadratically
    // across them.
    ("probe_suffix_chars", "documents", (s, dir) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val rep = saltedSaCorpus(s, dir, k = 16)
      val chars = rep.agg(sum(length(col("text")))).head().getLong(0)
      val spans = graft.ext.SuffixArray.duplicatedSpans(rep,
        "doc_id", "text", minLen = 20)
      val n = spans.count()
      spans.unpersist()
      Seq((n, chars)).toDF("spans", "chars")
    }))

  /** Times every target at each of `sfDirs`, median of
    * `$SPARK_GRAFT_CURVE_REPS` (default 3) runs. */
  def run(spark: SparkSession, sfDirs: Seq[String]): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_CURVE_REPS", "3").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_CURVE_OUT",
      "SCALECURVE_r14.json")
    spark.range(1000).selectExpr("sum(id)").collect()

    val queries = SparkEntry.queries
    val missing = Targets.map(_._1).filterNot(queries.contains)
    require(missing.isEmpty, s"unknown curve queries: $missing")
    val allTargets: Seq[(String, String,
        (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Targets.map { case (n, t) => (n, t, queries(n)) } ++ ProbeTargets

    // actual driver-table sizes per sf (the x axis)
    val sizes: Map[(String, String), Long] = (for {
      dir <- sfDirs
      table <- allTargets.map(_._2).distinct
    } yield (dir, table) ->
      spark.read.parquet(s"$dir/$table.parquet").count()).toMap

    def fmt(v: Double): String = f"$v%.3f"
    val results = allTargets.map { case (name, table, fn) =>
      val times = sfDirs.map { dir =>
        // one unmeasured warm run per (query, sf) so codegen/file
        // listing does not bias the SMALL sf points (where it is the
        // same absolute cost but a far larger fraction)
        try { fn(spark, dir).write.format("noop").mode("overwrite").save() }
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
        val ts = (1 to reps).flatMap { _ =>
          val t0 = System.nanoTime()
          try {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[curve] $name @ $dir failed: ${e.getMessage}")
            None
          } finally spark.catalog.clearCache()
        }
        if (ts.isEmpty) Double.NaN else ts.sorted.apply(ts.size / 2)
      }
      val ns = sfDirs.map(dir => sizes((dir, table)))
      // collapse equal-size points (mean time), keep ascending by n
      val pts = ns.zip(times).filterNot(_._2.isNaN)
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (n, g) => (n.toDouble, g.map(_._2).sum / g.size) }
      val expTail =
        if (pts.size >= 2) {
          val (n1, t1) = pts(pts.size - 2); val (n2, t2) = pts.last
          math.log(t2 / t1) / math.log(n2 / n1)
        } else Double.NaN
      val expFit =
        if (pts.size >= 2) {
          val xs = pts.map(p => math.log(p._1)); val ys = pts.map(p => math.log(p._2))
          val mx = xs.sum / xs.size; val my = ys.sum / ys.size
          xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
            xs.map(x => (x - mx) * (x - mx)).sum
        } else Double.NaN
      System.err.println(f"[curve] $name%-28s " +
        times.map(fmt).mkString(" ") +
        f"  tail=$expTail%.2f fit=$expFit%.2f ($table)")
      (name, table, ns, times, expTail, expFit)
    }
    def num(v: Double): String = if (v.isNaN) "null" else fmt(v)
    val qJson = results.map { case (name, table, ns, ts, tail, fit) =>
      s""""$name":{"table":"$table","n":[${ns.mkString(",")}],""" +
        s""""sec":[${ts.map(num).mkString(",")}],""" +
        s""""exp_tail":${num(tail)},"exp_fit":${num(fit)}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"scale_curve","sfs":[${sfDirs.map("\"" + _ + "\"").mkString(",")}],"reps":$reps,"queries":$qJson}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[curve] write failed: ${e.getMessage}") }
    println(line)
  }
}
