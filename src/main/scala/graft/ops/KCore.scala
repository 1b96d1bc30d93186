package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling — the graph-density filter
  * of the dedup family: the k-core is the maximal subgraph where every
  * vertex keeps >= k neighbors INSIDE the subgraph, so fringe documents
  * that merely touch a dup cluster peel away while the dense near-dup
  * community survives (connected components can't make that
  * distinction — one weak edge merges everything; label propagation
  * needs a majority; the core demands k robust links).
  *
  * Each peel round: one degree aggregation over the surviving edge set
  * + one semi-join to drop sub-k vertices — two keyed shuffles, nothing
  * global. Peeling is monotone (the surviving set only shrinks) and
  * IDEMPOTENT at the fixpoint, which is what lets a SQL oracle replay
  * it as a FIXED unroll: extra rounds after convergence are no-ops, so
  * "R rounds" and "fixpoint, if reached within R" agree; [[core]]
  * fails loudly if R rounds were not enough (a path graph peels one
  * layer per round — size the budget to the graph's diameter; dup
  * graphs are dense near-cliques and converge in a handful).
  */
object KCore {

  /** Vertices of the k-core with their within-core degree:
    * (id, core_deg). Input: unique undirected pairs, no self-loops.
    * Requires convergence within `maxRounds` (throws otherwise rather
    * than returning a partially-peeled overapproximation). */
  def core(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 16): DataFrame = {
    require(k >= 1, s"kcore: k >= 1 ($k)")
    // materialize the edge pipeline ONCE before symmetrizing — the
    // union's two branches would otherwise evaluate the (usually
    // expensive similarity-join) input twice, the same edge-input
    // discipline as ConnectedComponents; the job that stores it also
    // counts it
    val (e0, nEdges) = Materialize.counted(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    // SIZE-ADAPTIVE: like ConnectedComponents, the input is a FILTERED
    // pair artifact, not a corpus-scale frame. Below the bound the
    // synchronous peel runs on the driver (same rounds, same
    // convergence-budget contract, and the k-core is the UNIQUE maximal
    // subgraph so the result is identical — differential spec in
    // KCoreSpec); above it, the distributed loop below is the 100 TB
    // path, unchanged.
    val localMax = edges.sparkSession.conf
      .getOption("spark.graft.kcore.localMaxEdges")
      .map(_.toLong).getOrElse(1000000L)
    if (nEdges <= localMax) {
      val local = localCore(e0, k, maxRounds)
      if (local.isDefined) return local.get
      // fall through (null endpoint seen): distributed loop below
    }
    var (sym, edgeCount) = Materialize.counted(
      e0.union(e0.select(col("b").as("a"), col("a").as("b"))))
    var round = 0
    var converged = false
    // maxRounds + 1 loop iterations: `maxRounds` PRODUCTIVE peels plus
    // one no-change confirmation round — a graph needing exactly
    // maxRounds peels (the oracle's fixed unroll budget) must converge,
    // not throw because confirmation consumed its last iteration
    while (!converged && round < maxRounds + 1) {
      val deg = sym.groupBy("a").agg(count(lit(1)).as("d"))
      val alive = deg.filter(col("d") >= k).select(col("a"))
      // peel fixpoint: no edge was removed this round (edges only ever
      // shrink, so one running count per round suffices — taken by the
      // job that stores the round)
      val (next, nextCount) = Materialize.counted(sym
        .join(alive, Seq("a"), "left_semi")
        .join(alive.select(col("a").as("b")), Seq("b"), "left_semi")
        .select("a", "b"))
      converged = nextCount == edgeCount
      edgeCount = nextCount
      sym = next
      round += 1
    }
    require(converged,
      s"k-core did not converge in $maxRounds rounds — raise maxRounds " +
        "(graphs with long induced paths peel one layer per round)")
    sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("core_deg"))
  }

  /** Driver-side synchronous peel — the small-graph leg of [[core]].
    * Round-for-round the same monotone peel as the distributed loop
    * (all sub-k vertices drop TOGETHER each round, same maxRounds + 1
    * budget, same loud non-convergence failure), so the surviving
    * (id, core_deg) rows are identical, cast to the distributed
    * output's union-widened id type. Returns None when any endpoint is
    * null. */
  private def localCore(e0: DataFrame, k: Int, maxRounds: Int)
      : Option[DataFrame] = {
    val spark = e0.sparkSession
    // analysis-only: the EXACT schema (types AND nullability) the
    // distributed loop's final aggregate would carry
    val distSchema = e0
      .union(e0.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a").as("id")).agg(count(lit(1)).as("core_deg"))
      .schema
    val toId = ConnectedComponents.integralWriter(distSchema.head.dataType)
      .getOrElse(return None) // non-integral ids: distributed loop only
    val rows = e0
      .select(col("a").cast("long"), col("b").cast("long")).collect()
    var i = 0
    while (i < rows.length) {
      if (rows(i).isNullAt(0) || rows(i).isNullAt(1)) return None
      i += 1
    }
    // adjacency over the SYMMETRIZED multiset (exactly the loop's sym):
    // deg(v) = number of sym rows keyed v, duplicates and all
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    def add(u: Long, v: Long): Unit =
      adj.getOrElseUpdate(u,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += v
    i = 0
    while (i < rows.length) {
      add(rows(i).getLong(0), rows(i).getLong(1))
      add(rows(i).getLong(1), rows(i).getLong(0))
      i += 1
    }
    val deg = scala.collection.mutable.LongMap.empty[Long]
    adj.foreachEntry((v, ns) => deg(v) = ns.length.toLong)
    val alive = scala.collection.mutable.LongMap.empty[Boolean]
    adj.foreachEntry((v, _) => alive(v) = true)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds + 1) {
      val drop = deg.iterator
        .filter { case (v, d) => alive(v) && d < k }.map(_._1).toArray
      if (drop.isEmpty) converged = true
      else {
        var j = 0
        while (j < drop.length) {
          val v = drop(j)
          alive(v) = false
          j += 1
        }
        // synchronous round: decrement AFTER the whole drop set is
        // marked, once per sym occurrence into a still-alive neighbor.
        // A survivor whose degree hits 0 leaves sym THIS round in the
        // distributed loop (the both-endpoints filter removed its last
        // edge), so kill it immediately — otherwise it would consume an
        // extra round here and the two legs' round budgets diverge.
        j = 0
        while (j < drop.length) {
          adj(drop(j)).foreach { u =>
            if (alive(u)) {
              deg(u) -= 1L
              if (deg(u) == 0L) alive(u) = false
            }
          }
          j += 1
        }
      }
      round += 1
    }
    require(converged,
      s"k-core did not converge in $maxRounds rounds — raise maxRounds " +
        "(graphs with long induced paths peel one layer per round)")
    val out: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(adj.keysIterator.filter(alive(_)).toArray
        .sorted.map(v => org.apache.spark.sql.Row(toId(v), deg(v))): _*)
    Some(spark.createDataFrame(out, distSchema))
  }
}
