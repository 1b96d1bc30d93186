package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixed-iteration HITS (hubs & authorities) over a
  * weighted edge list — the link-analysis twin of [[PageRank]] for
  * graphs where "points at good things" and "is pointed at by good
  * things" are distinct signals (source→document attribution,
  * crawl frontier prioritization, citation graphs).
  *
  * All arithmetic is integer at a fixed scale, so the result is
  * bit-identical under any partitioning and replayable by a SQL oracle
  * with the iterations unrolled as CTEs (the same contract as
  * [[PageRank]] / [[LabelPropagation]]). The usual L2 normalization is
  * replaced by max-normalization — division by a per-round scalar
  * maximum instead of a square root — which preserves the HITS
  * ranking (normalization in HITS only prevents growth; any positive
  * scalar works) while staying in exact integer arithmetic:
  * {{{
  *   araw(v) = Σ_{u→v} h_t(u)·w     a_{t+1}(v) = (araw(v)·scale) div max araw
  *   hraw(u) = Σ_{u→v} a_{t+1}(v)·w h_{t+1}(u) = (hraw(u)·scale) div max hraw
  * }}}
  * Per round: two edge-keyed joins + two keyed aggregates + two 1-row
  * scalar maxima collected and inlined as literals — node STATE never
  * crosses the driver, only the two normalizing scalars do.
  * Overflow headroom: araw·scale < 2^63 requires Σ_in(w)·scale² < 2^63,
  * i.e. total in-weight per node below ~9·10^6 at the default 10^6
  * scale; shrink `scale` for heavier graphs (same dial as PageRank's).
  * Every round boundary is an eager [[Materialize]] — reliable when the
  * deployment sets `spark.checkpoint.dir`. Unlike [[PageRank]], HITS
  * runs a per-round ACTION anyway (the scalar maxima), so without
  * materialization every action re-executes its whole prefix chain —
  * quadratic wall-clock that measured 5.7 s vs ~2 s materialized at
  * sf0.1.
  *
  * Returns (node, auth_fp, hub_fp) at the fixed scale — the round's
  * hottest authority/hub sit exactly at `scale`, sources with no
  * in-edges at auth 0, sinks at hub 0.
  */
object Hits {

  val Scale = 1000000L

  def scores(edges: DataFrame, iters: Int = 3,
      srcCol: String = "src", dstCol: String = "dst", wCol: String = "w",
      scale: Long = Scale): DataFrame = {
    require(iters >= 1, s"hits: iters >= 1 ($iters)")
    require(scale >= 1L, s"hits: scale >= 1 ($scale)")
    // materialize the edge list and node set once: `e` feeds the node
    // union (twice) plus TWO joins per round, `nodes` two more — an
    // expensive upstream pipeline would otherwise re-evaluate
    // 2 + 2·iters times (the ConnectedComponents edge-input discipline)
    val e = Materialize(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst"), col(wCol).cast("long").as("w")), eager = true)
    val nodes = Materialize(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), eager = true)
    // SPARSE state: after each normalization a node absent from the raw
    // aggregate would carry 0, and a zero score contributes exactly 0 to
    // the next round's weighted sums — so the per-round frames keep only
    // the aggregated rows and the nodes-side zero-fill join happens ONCE
    // at the end instead of twice per round (two fewer keyed exchanges
    // and one fewer full recompute per half-round: the raw aggregate is
    // checkpointed eagerly and the scalar max reads the materialized
    // blocks instead of re-running the join+agg pipeline).
    var h = nodes.withColumn("h", lit(scale))
    var a = nodes.withColumn("a", lit(0L))
    // Each round's normalizer is COLLECTED as a 1-row scalar and
    // inlined as a literal (the Lloyd-training contract: only scalars
    // ever cross the driver). A lazy broadcast of the max instead
    // would reference each raw frame twice per round — the tree then
    // re-derives every subtree ~4x per round, compounding to 4^iters
    // (measured: 11.9 s at sf0.1 for the lazy form vs ~1 s here). With
    // the literal, every frame appears exactly ONCE in the final plan;
    // the per-round scalar action re-runs its prefix chain, a
    // quadratic-in-iters cost on node-sized aggregates that stays
    // negligible for the small fixed iteration counts HITS needs.
    for (_ <- 1 to iters) {
      val araw = Materialize(
        e.join(h.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), (col("h") * col("w")).as("x"))
          .groupBy("node").agg(sum("x").as("ar")),
        eager = true)
      val amx = math.max(1L,
        araw.agg(coalesce(max("ar"), lit(0L))).head().getLong(0))
      a = araw.select(col("node"), expr(s"(ar * $scale) div $amx").as("a"))
      val hraw = Materialize(
        e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("src").as("node"), (col("a") * col("w")).as("x"))
          .groupBy("node").agg(sum("x").as("hr")),
        eager = true)
      val hmx = math.max(1L,
        hraw.agg(coalesce(max("hr"), lit(0L))).head().getLong(0))
      h = hraw.select(col("node"), expr(s"(hr * $scale) div $hmx").as("h"))
    }
    nodes.join(a, Seq("node"), "left_outer")
      .join(h, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("a"), lit(0L)).as("auth_fp"),
        coalesce(col("h"), lit(0L)).as("hub_fp"))
  }
}
