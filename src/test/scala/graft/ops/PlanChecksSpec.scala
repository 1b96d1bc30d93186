package graft.ops

import graft.{SparkSpec, SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** Plan contracts enforced in CI for the flagship queries — a plan
  * regression (lost pushdown, surprise cartesian, lost broadcast) now
  * fails the build instead of waiting for a manual explain audit.
  */
class PlanChecksSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("star join q5: broadcast dims, pushed filters, no cartesian") {
    val df = q("q5_region_revenue")
    PlanChecks.assertNoCartesian(df)
    PlanChecks.assertBroadcastJoin(df)
  }

  test("filter-project q2: predicate reaches the parquet scan") {
    PlanChecks.assertPushedFilter(q("q2_filter_project"), "l_quantity")
  }

  test("bloom-pruned join q34: dim predicate pushed, no cartesian") {
    val df = q("q34_bloom_join")
    PlanChecks.assertNoCartesian(df)
    PlanChecks.assertPushedFilter(df, "c_mktsegment")
  }

  test("pricing agg q1 stays inside whole-stage codegen") {
    PlanChecks.assertCodegenFused(q("q1_pricing_agg"), "HashAggregate")
  }

  test("exchange budget: q1 needs exactly its agg + sort shuffles") {
    PlanChecks.assertExchangesAtMost(q("q1_pricing_agg"), 2)
  }

  test("pagerank: every round joins on keys, never a cartesian") {
    PlanChecks.assertNoCartesian(q("graph_pagerank"))
  }

  test("source TV-drift: pair fan-out rides a broadcast, no cartesian " +
    "on the token dimension") {
    val df = q("text_source_tv_drift")
    PlanChecks.assertBroadcastJoin(df)
  }

  test("semantic dedup: cluster-bounded pairs are an equi-join") {
    PlanChecks.assertNoCartesian(q("sim_semantic_dedup"))
  }

  test("merge-upsert q45: single key-partitioned full-outer join, " +
    "bounded exchanges") {
    val df = q("q45_merge_upsert")
    PlanChecks.assertNoCartesian(df)
  }

  test("fuzzy joins: the blocked path replaces the cartesian — " +
    "equi-join candidates, broadcast-only nested loops") {
    PlanChecks.assertNoCartesian(q("q47_fuzzy_join"))
    PlanChecks.assertNoCartesian(q("q51_fuzzy_blocked"))
  }

  test("dq report: scalar (1-row aggregate) fan-outs ride a broadcast, " +
    "never a CartesianProduct") {
    val df = q("dq_constraint_report")
    PlanChecks.assertNoCartesian(df)
    // referential()'s orphans × total is a 1-row × 1-row crossJoin;
    // the explicit broadcast() pins it to BroadcastNestedLoopJoin so
    // the contract can't silently degrade with planner changes
    PlanChecks.assertBroadcastJoin(df)
  }

  test("boilerplate strip: line-keyed joins only, the corpus-size " +
    "scalar rides a broadcast, never a cartesian") {
    val df = q("text_boilerplate_strip")
    PlanChecks.assertNoCartesian(df)
    PlanChecks.assertBroadcastJoin(df)
  }

  test("bigram LM score: model join is keyed, no cartesian") {
    PlanChecks.assertNoCartesian(q("text_lm_score"))
  }

  test("crawl-refresh flagship: five stages, zero cartesians, scalar " +
    "gates broadcast") {
    val df = q("pipeline_crawl_refresh")
    PlanChecks.assertNoCartesian(df)
    PlanChecks.assertBroadcastJoin(df)
  }

  test("HITS: per-round joins are keyed, never a cartesian (the " +
    "normalizing maxima are inlined literals, not plan nodes)") {
    PlanChecks.assertNoCartesian(q("graph_hits"))
  }

  test("multi-query IVF-PQ serve: probe fan-out and both ADC LUTs ride " +
    "broadcasts, the code scan carries a literal cluster_id IN filter, " +
    "no cartesian") {
    val df = q("ann_ivfpq_multi")
    PlanChecks.assertNoCartesian(df)
    PlanChecks.assertBroadcastJoin(df)
    val plan = PlanChecks.executedPlan(df)
    // above inSetConversionThreshold (10) the union of per-query probe
    // sets renders as INSET rather than IN — both are the literal
    // pushable predicate partition pruning needs
    assert(plan.linesIterator.exists(l => l.contains("cluster_id") &&
        (l.contains(" IN (") || l.contains(" INSET "))),
      s"serve scan must carry a literal cluster_id IN/INSET filter\n$plan")
  }

  test("diversity stats: pure hash-agg pipeline — no join at all, " +
    "bounded exchanges") {
    val df = q("text_diversity")
    PlanChecks.assertNoCartesian(df)
    // explode -> (doc,tok) agg -> doc agg -> sort: 2 keyed exchanges
    // + the final range partition for the sort
    PlanChecks.assertExchangesAtMost(df, 3)
  }

  test("justext extraction flagship: classify+revise+reassemble is " +
    "one doc-keyed window + one doc-keyed agg — bounded exchanges, " +
    "no cartesian") {
    val df = q("pipeline_justext_extract")
    PlanChecks.assertNoCartesian(df)
    // window shuffle + reassembly agg + final sort; the classify
    // stage must contribute ZERO exchanges of its own (map-only)
    PlanChecks.assertExchangesAtMost(df, 3)
  }

  test("fetch-budget flagship: host window rides the plan's own " +
    "host shuffle, delays broadcast, no cartesian") {
    val df = q("pipeline_fetch_budget")
    PlanChecks.assertNoCartesian(df)
    // the delays join sits below the stored frame of the budget cut's
    // global running total, so its broadcast shows in the frontier plan
    // that the cut composes (text_frontier_plan: same urls, robots and
    // order)
    PlanChecks.assertBroadcastJoin(q("text_frontier_plan"))
  }

  test("link-frontier flagship: extraction+canonicalization are " +
    "map-only — only dedup, host window, and sort shuffle") {
    val df = q("pipeline_link_frontier")
    PlanChecks.assertNoCartesian(df)
    // canonical distinct + frontier host window + final sort, plus
    // the doc-keyed page_host join the fixture itself introduces
    PlanChecks.assertExchangesAtMost(df, 4)
  }

  test("derived sign-LSH: candidates come from the band equi-join, " +
    "never a cartesian") {
    PlanChecks.assertNoCartesian(q("sim_banded_derived"))
  }

  test("violations raise with the offending plan attached") {
    val crossed = Tables.lineitem(spark, sfDir).limit(5).crossJoin(
      Tables.orders(spark, sfDir).limit(5).hint("shuffle_replicate_nl"))
    val e = intercept[IllegalStateException] {
      PlanChecks.assertNoCartesian(crossed)
    }
    assert(e.getMessage.contains("CartesianProduct"))
    val e2 = intercept[IllegalStateException] {
      PlanChecks.assertPushedFilter(
        Tables.orders(spark, sfDir), "no_such_column")
    }
    assert(e2.getMessage.contains("no_such_column"))
  }

  test("bpe tokenize flagship: the encode is pure projection — the " +
    "only shuffle is the final presentation sort; share/cap/bucket " +
    "governance queries never go cartesian") {
    // cap exchanges at 1 (the ORDER BY doc_id): a join or shuffle
    // sneaking into the merge-table application would break this
    PlanChecks.assertExchangesAtMost(q("pipeline_bpe_tokenize"), 1)
    PlanChecks.assertNoCartesian(q("pipeline_bpe_tokenize"))
    // domain share: the 1-row total rides a broadcast
    val share = q("text_domain_share")
    PlanChecks.assertNoCartesian(share)
    PlanChecks.assertBroadcastJoin(share)
    // domain cap: registered-domain window is domain-keyed — agg +
    // window + sort, never a corpus self-join
    PlanChecks.assertNoCartesian(q("pipeline_domain_cap"))
    // ccnet buckets: model join keyed, window source-keyed
    PlanChecks.assertNoCartesian(q("pipeline_ccnet_buckets"))
    // bloom decontamination: the bitmap rides as a literal — the ONLY
    // joins are the exact-hits grading rails, never a cartesian
    PlanChecks.assertNoCartesian(q("text_contamination_bloom"))
    // funnel: the per-stage 1-row count fan-outs ride broadcasts
    val funnel = q("pipeline_corpus_funnel")
    PlanChecks.assertNoCartesian(funnel)
    PlanChecks.assertBroadcastJoin(funnel)
  }

  test("round-12 flagships: span dedup is keyed end to end, the band " +
    "store scan carries a literal bucket IN/INSET, the scalable BPE " +
    "encode is one map pass plus its output sort") {
    // C4 span dedup: sentence window and reassembly are doc-keyed,
    // keeper resolution is span-hash-keyed — never a cartesian
    PlanChecks.assertNoCartesian(q("text_span_dedup"))
    // band store: probe-bucket pruning must surface as a literal
    // IN/INSET predicate on the store scan (the partition-pruning
    // contract, same as the IVF-PQ serve)
    val bs = q("dedup_band_store")
    PlanChecks.assertNoCartesian(bs)
    val bsPlan = PlanChecks.executedPlan(bs)
    assert(bsPlan.linesIterator.exists(l => l.contains("bucket") &&
        (l.contains(" IN (") || l.contains(" INSET "))),
      s"store scan must carry a literal bucket IN/INSET filter\n$bsPlan")
    // scalable encode: mapPartitions + the ordered output — exactly
    // one (range) exchange, nothing else may shuffle
    val enc = q("pipeline_bpe_scaled")
    PlanChecks.assertNoCartesian(enc)
    PlanChecks.assertExchangesAtMost(enc, 1)
  }

  test("round-13 flagship: the data freeze is keyed end to end — " +
    "gates map-only, dedups and manifest on key shuffles, never a " +
    "cartesian") {
    val df = q("pipeline_data_freeze")
    PlanChecks.assertNoCartesian(df)
    // post-checkpoint plan (encode -> pack -> manifest): the prefix
    // sum's range partition + its ordered stitch, the manifest join +
    // shard agg, and the final sort — five keyed shuffles, frozen
    // here so a stage regression (e.g. the encode growing a shuffle)
    // fails CI. The gate/dedup prefix executes before the checkpoint
    // and carries its own contracts via text_span_dedup's.
    PlanChecks.assertExchangesAtMost(df, 6)
    // the byte-level roundtrip grade is pure projection + its sort
    val rt = q("text_bpe_byte_roundtrip")
    PlanChecks.assertNoCartesian(rt)
    PlanChecks.assertExchangesAtMost(rt, 1)
    // byte-level corpus encode: map-only + its output sort
    val bt = q("pipeline_bpe_byte_tokenize")
    PlanChecks.assertNoCartesian(bt)
    PlanChecks.assertExchangesAtMost(bt, 1)
  }

  test("round-14 additions: the unigram encode and the artifact-store " +
    "encode are one map pass plus their output sort; the unigram " +
    "train output is driver state") {
    // unigram corpus encode: mapPartitions + the ordered output —
    // exactly one (range) exchange, same budget as pipeline_bpe_scaled
    val ue = q("pipeline_unigram_encode")
    PlanChecks.assertNoCartesian(ue)
    PlanChecks.assertExchangesAtMost(ue, 1)
    // encode from the RELOADED tokenizer artifact: still map-only —
    // the store round-trip must not add a join or shuffle
    val bs = q("text_bpe_store")
    PlanChecks.assertNoCartesian(bs)
    PlanChecks.assertExchangesAtMost(bs, 1)
    val us = q("text_unigram_store")
    PlanChecks.assertNoCartesian(us)
    PlanChecks.assertExchangesAtMost(us, 1)
    // the trained table itself is bounded driver state: its plan is a
    // local scan + sort, no corpus exchange at all
    val ut = q("text_unigram_train")
    PlanChecks.assertNoCartesian(ut)
    PlanChecks.assertExchangesAtMost(ut, 1)
    // token-id assignment: the vocabulary rides the plan as a literal
    // map — encode + id-ing stay one map pass (no join for the ids)
    val ti = q("pipeline_token_ids")
    PlanChecks.assertNoCartesian(ti)
    PlanChecks.assertExchangesAtMost(ti, 1)
  }

  test("rank-cap GATE form: Spark's WindowGroupLimit prunes each map " +
    "partition to k rows per domain BEFORE the shuffle — the 100 TB " +
    "shape of the per-domain cap (the graded query keeps all rows " +
    "with a flag, so it legitimately skips the pushdown)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val gated = docs
      .select(col("doc_id"), col("source").as("domain"))
      .withColumn("r", row_number().over(
        Window.partitionBy("domain").orderBy("doc_id")))
      .filter(col("r") <= 10)
    gated.collect()
    val plan = PlanChecks.executedPlan(gated)
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter must push a map-side group limit:\n$plan")
  }
}
