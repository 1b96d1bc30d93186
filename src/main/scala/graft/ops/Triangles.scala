package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact distributed triangle counting over an undirected edge list.
  *
  * The classic orientation trick (Suri & Vassilvitskii, WWW'11 — the
  * "MapReduce clustering-coefficient" construction): direct every edge
  * from its (degree, id)-smaller endpoint to the larger, which turns the
  * graph into a DAG where every triangle {x,y,z} survives as exactly one
  * wedge x→y, x→z closed by y→z. Counting is then
  *
  *  1. wedge enumeration — a self-join of the directed edges on their
  *     source (fan-out bounded by the max OUT-degree, which the
  *     degree-orientation caps at O(√m) on any graph — this is what
  *     makes the join survive scale-free degree skew: the celebrity
  *     node's 10^8 undirected neighbours become in-edges, not a 10^16
  *     wedge explosion), and
  *  2. closure — an equi-join of the wedges against the directed edge
  *     set on (v, w).
  *
  * Three keyed shuffles total (degree agg, wedge join, closure join) —
  * no iteration, no cartesian anywhere. All tie-breaks are total
  * ((deg, id) lexicographic), so results are deterministic under any
  * partitioning and a SQL oracle replays them exactly.
  */
object Triangles {

  /** Directed (src, dst) edges under the (degree, id) total order.
    * Input must be unique undirected pairs without self-loops. */
  private def orient(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    // materialize the undirected edge list once: it is usually an
    // expensive similarity-join pipeline and feeds the degree union
    // TWICE plus the orientation join — the same re-evaluation trap
    // ConnectedComponents/LabelPropagation guard against
    val e = Materialize(edges.select(col(aCol).as("a"), col(bCol).as("b")),
      eager = true)
    val deg = e.select(col("a").as("u"))
      .union(e.select(col("b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("d"))
    def key(d: String, v: String) =
      struct(col(d).as("kd"), col(v).as("kv"))
    e.join(deg.withColumnsRenamed(Map("u" -> "a", "d" -> "da")), Seq("a"))
      .join(deg.withColumnsRenamed(Map("u" -> "b", "d" -> "db")), Seq("b"))
      .select(
        when(key("da", "a") < key("db", "b"),
          col("a")).otherwise(col("b")).as("src"),
        when(key("da", "a") < key("db", "b"),
          col("b")).otherwise(col("a")).as("dst"),
        when(key("da", "a") < key("db", "b"),
          key("db", "b")).otherwise(key("da", "a")).as("dstKey"))
  }

  /** The closed-wedge stream: wedge enumeration joined against the
    * closing edge set. The wedge side is the Θ-of-output monster (on a
    * dup near-clique it IS the triangle volume), so neither the wedge
    * self-join's output nor the closure join may sort or shuffle it:
    * both joins build on the ORIGINAL m-row directed edge list —
    * broadcast (default), which fuses enumerate → close → explode →
    * partial-count into ONE stage with nothing wider than partial
    * (node, count) rows ever exchanged; for graphs whose edge list
    * outgrows a broadcast, `broadcastClosure = false` swaps in shuffled
    * HASH joins (the streams cross the wire once but are never sorted
    * — the default plan's closure was a SortMergeJoin SORTING the
    * wedge stream). Measured on the sf0.1 near-clique fixture
    * (SCALE.md §8e): 8.7s → 7.7s warm median; the surviving cost is
    * the fixture's real triangle volume, not plan overhead. */
  private def closedWedges(edges: DataFrame, aCol: String, bCol: String,
      broadcastClosure: Boolean): DataFrame = {
    // oriented edges feed the wedge self-join (both sides) AND the
    // closure side — materialize once so the degree+orientation joins
    // run once, not three times (twice through broadcast builds).
    // Repartition BEFORE the checkpoint: this stage's work is
    // Θ(wedges) = Θ(triangle volume), not Θ(m bytes), so the stream
    // side must carry enough partitions to spread the fan-out — the
    // post-AQE orientation output is sized by its tiny byte volume
    // (one partition at fixture scale) and would otherwise run the
    // whole enumerate→close→count pipeline in ONE task.
    val dir = Materialize(orient(edges, aCol, bCol)
      .repartition(edges.sparkSession.sparkContext.defaultParallelism),
      eager = true)
    val e1 = dir.select(col("src").as("x"), col("dst").as("y"),
      col("dstKey").as("yk"))
    val e2 = dir.select(col("src").as("x"), col("dst").as("z"),
      col("dstKey").as("zk"))
    val wedges = e1.join(
        if (broadcastClosure) broadcast(e2) else e2.hint("shuffle_hash"),
        Seq("x"))
      .filter(col("yk") < col("zk"))
      .select("x", "y", "z")
    val closing = dir.select(col("src").as("y"), col("dst").as("z"))
    val closingSide =
      if (broadcastClosure) broadcast(closing)
      else closing.hint("shuffle_hash")
    wedges.join(closingSide, Seq("y", "z"))
  }

  /** All triangles, one row each: (x, y, z) with x→y, x→z, y→z in the
    * degree orientation. */
  def triangles(edges: DataFrame, aCol: String, bCol: String,
      broadcastClosure: Boolean = true): DataFrame =
    closedWedges(edges, aCol, bCol, broadcastClosure)
      .select("x", "y", "z")

  /** Per-vertex triangle participation (each triangle credits all three
    * corners) — the numerator of the local clustering coefficient.
    * COUNT-ONLY path: the explode + partial count aggregate in the SAME
    * whole-stage-codegen stage as the closure join, so no triangle row
    * is ever materialized to an exchange — the only thing shuffled is
    * one partial (node, count) row per node per partition. Vertices on
    * no triangle are absent; left-join the node set to zero-fill.
    * Returns (node, n_triangles). */
  def perVertex(edges: DataFrame, aCol: String, bCol: String,
      broadcastClosure: Boolean = true): DataFrame =
    closedWedges(edges, aCol, bCol, broadcastClosure)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
}
