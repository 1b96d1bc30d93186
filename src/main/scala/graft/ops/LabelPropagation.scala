package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous majority label propagation — community detection on a
  * node-similarity graph (the soft-clustering complement to
  * [[ConnectedComponents]]: CC merges everything reachable, label
  * propagation only merges where the neighborhood majority agrees, so
  * weak bridges between dense near-dup groups don't collapse them).
  *
  * Each round every node adopts the most frequent label among its
  * neighbors, ties broken by smallest label, isolated nodes keeping
  * their own — a total order, so the result is deterministic under any
  * partitioning and the round-unrolled SQL oracle reproduces it bit for
  * bit. Per round: one edge⋈label shuffle keyed on the neighbor id, one
  * (node, label) hash-agg, one per-node `row_number` window — all keyed
  * by node id, nothing global (each round is 3 keyed exchanges over
  * edge-count rows, the same per-round shape that survives a
  * 1000-executor graph). The edge input is materialized once before the
  * symmetrizing union and the label state is checkpointed every round
  * through [[Materialize]], so neither the upstream similarity join nor
  * earlier rounds are ever recomputed; the checkpoints are reliable when
  * the deployment sets `spark.checkpoint.dir` (preemptible executors).
  */
object LabelPropagation {

  /** Run `rounds` of propagation. `nodes` supplies (idCol, labelCol);
    * `edges` supplies undirected pairs (srcCol, dstCol) — each pair
    * listed once; both directions are derived. */
  def run(nodes: DataFrame, idCol: String, labelCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 ($rounds)")
    // materialize the edge list once BEFORE symmetrizing — same trap as
    // ConnectedComponents: the input is usually an expensive similarity
    // join, it is re-joined every round, and the two-direction union
    // would otherwise evaluate that pipeline twice per round
    val once = Materialize(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v")), eager = true)
    val sym = once.union(once.select(col("v").as("u"), col("u").as("v")))
    var lab = nodes.select(col(idCol).as("id"), col(labelCol).as("label"))
    for (_ <- 1 to rounds) {
      val counts = sym.join(lab, sym("v") === lab("id"))
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = counts
        .withColumn("rk", row_number().over(
          Window.partitionBy("u").orderBy(col("cnt").desc, col("label"))))
        .filter(col("rk") === 1)
        .select(col("u"), col("label").as("next_label"))
      lab = lab.join(best, lab("id") === best("u"), "left")
        .select(col("id"),
          coalesce(col("next_label"), col("label")).as("label"))
      // eager checkpoint per round — truncates the O(rounds) lineage so
      // round k never recomputes rounds 1..k-1 (there is no per-round
      // action to piggyback a lazy one on)
      lab = Materialize(lab, eager = true)
    }
    lab.select(col("id").as(idCol), col("label").as(labelCol))
  }
}
