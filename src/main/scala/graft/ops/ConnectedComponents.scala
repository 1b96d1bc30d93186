package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list — the
  * missing step between a near-duplicate PAIR list (Dedup.jaccardPairs /
  * LSH candidates) and a deduplicated corpus: pairs (a,b),(b,c) must
  * collapse into ONE cluster {a,b,c} with a single survivor, which is
  * transitive closure, not a join.
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Every vertex keeps p(v) = smallest id known reachable. Each round
  * combines
  *   (a) hook:  p(v) <- min over neighbours u of p(u)   (edge join), and
  *   (b) jump:  p(v) <- p(p(v))                          (label self-join),
  * so labels race down edges AND down the pointer forest — the jump
  * doubles propagation distance per round, giving O(log diameter) rounds
  * on chain-shaped components (near-dup clusters are usually dense, i.e.
  * diameter ~2, converging in 2-3 rounds).
  *
  * Fixpoint = component minimum: labels are monotonically non-increasing
  * and bounded by the component min m (labels are always reachable vertex
  * ids). If some v held p(v) > m at a fixpoint, take the first vertex on
  * a v→…→m path whose successor's label is m: the hook step would lower
  * it — contradiction. At least one label therefore strictly decreases
  * every non-final round, and ONE scalar aggregate per round — the count
  * of rows whose label changed — detects convergence. (A Σ-labels probe
  * would be cheaper to state but sum(long) wraps silently at extreme
  * vertex-id × count magnitudes; a changed-count can't alias.)
  *
  * Scale: each round is two shuffles (edge hash-join on vertex id +
  * label self-join), both keyed on vertex id — no cross joins, state is
  * one row per vertex. Rounds checkpoint so the plan/lineage stays O(1)
  * per round instead of growing exponentially, through [[Materialize]]:
  * local by default (fast, executor-memory blocks — executor loss FAILS
  * the job), or reliable into the fault-tolerant store the deployment
  * names in `spark.checkpoint.dir` (each round restartable from the
  * previous round's files — the 100 TB/1000-executor option, at the
  * cost of one distributed write per round).
  */
object ConnectedComponents {

  /** (id, comp) for every vertex in `edges`; comp = min id in the
    * component. Vertices with no edges don't appear (left-join the
    * original entity table and coalesce to self for singletons).
    * Vertex ids must be an integral type ("smallest id" and the Σlabel
    * convergence test are numeric). */
  def components(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 40): DataFrame = {
    // materialize the edge list once BEFORE symmetrizing: it is
    // re-joined every round, it is usually an expensive pipeline (an LSH
    // or Jaccard similarity join), and the union would otherwise
    // evaluate that pipeline twice (once per direction)
    val (once, nEdges) = Materialize.counted(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    // SIZE-ADAPTIVE: a near-dup pair list is a FILTERED artifact (high
    // similarity threshold), not a corpus-scale frame — after LSH even a
    // web-scale corpus usually yields a graph whose edge list fits the
    // driver with room to spare. Below the bound, exact union-find on
    // the driver replaces the whole iterative loop (each round of which
    // is several shuffles + one action): the component-minimum fixpoint
    // is UNIQUE, so both paths return byte-identical labels
    // (differential spec in ConnectedComponentsSpec). Above the bound —
    // or if any endpoint is null — the distributed loop below is the
    // 100 TB path, unchanged. The edge count comes from the job that
    // stored `once` and replaces the old labels.isEmpty probe job.
    val spark = edges.sparkSession
    val localMax =
      spark.conf.getOption("spark.graft.cc.localMaxEdges")
        .map(_.toLong).getOrElse(1000000L)
    if (nEdges == 0L) {
      // edgeless graph (the common clean-corpus case): nothing to do;
      // preserve the distributed path's output schema exactly
      val sym0 =
        once.union(once.select(col("b").as("a"), col("a").as("b")))
      return sym0.groupBy(col("a").as("id"))
        .agg(least(min(col("b")), col("a")).as("comp"))
    }
    if (nEdges <= localMax) {
      val local = localComponents(once)
      if (local.isDefined) return local.get
      // fall through (null endpoint seen): distributed loop below
    }
    val sym = once.union(once.select(col("b").as("a"), col("a").as("b")))
    // lazy checkpoints: the convergence aggregate right after is the one
    // action that materializes them — one job per round, not two
    var labels = Materialize(
      sym.groupBy(col("a").as("id"))
        .agg(least(min(col("b")), col("a")).as("p")),
      eager = false)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // one union-min aggregate instead of hook-groupBy + two left joins:
      // the new label is min over {current, hook candidates, jump
      // candidate}, so pour all three into ONE keyed aggregate. The
      // current row rides along tagged so the SAME aggregate also yields
      // the pre-round label for the convergence probe — this drops two
      // id-keyed join exchanges per round from every consumer's plan.
      // (hook/jump rows can't be absent for a vertex: sym covers both
      // endpoints of every edge and labels contains every vertex id, so
      // the old left-join coalesces were never exercised; min over the
      // union is the same least().)
      val hook = sym
        .join(labels.select(col("id").as("b"), col("p")), Seq("b"))
        .select(col("a").as("id"), col("p"), lit(false).as("__cur"))
      val jump = labels
        .join(labels.select(col("id").as("p"), col("p").as("pj")), Seq("p"))
        .select(col("id"), col("pj").as("p"), lit(false).as("__cur"))
      // lazy checkpoint: the convergence aggregate right after
      // is the one action that materializes it — one job per round
      val stepped = Materialize(
        hook.unionByName(jump)
          .unionByName(labels.select(col("id"), col("p"),
            lit(true).as("__cur")))
          .groupBy("id")
          .agg(min(col("p")).as("p"),
            max(when(col("__cur"), col("p"))).as("__pold")),
        eager = false)
      // labels only decrease => zero strict decreases is a fixpoint;
      // a count can't overflow/alias the way a Σ-labels probe could
      val changed = stepped
        .agg(coalesce(sum(when(col("p") < col("__pold"), 1L)), lit(0L)))
        .head().getLong(0)
      labels = stepped.drop("__pold")
      converged = changed == 0L
      round += 1
    }
    require(converged, s"connected components did not converge in $maxRounds rounds")
    labels.withColumnRenamed("p", "comp")
  }

  /** Exact union-find over a driver-collected edge list — the
    * small-graph leg of [[components]]. The component-minimum labeling
    * is the unique fixpoint of the distributed loop, so this returns
    * the SAME (id, comp) rows, cast to the same union-widened endpoint
    * type the distributed `sym.groupBy(a).agg(least(min(b), a))` would
    * produce. Returns None when any endpoint is null (only the
    * distributed aggregate's null-group semantics handle that). */
  private def localComponents(once: DataFrame): Option[DataFrame] = {
    val spark = once.sparkSession
    // analysis-only: the EXACT schema (types AND nullability) the
    // distributed loop's labels frame would carry — the loop's final
    // comp comes out of the per-round min() aggregate, so it is
    // nullable even though the seed's least(min(b), a) is not
    val seed = once
      .union(once.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a").as("id"))
      .agg(least(min(col("b")), col("a")).as("comp"))
      .schema
    val distSchema = org.apache.spark.sql.types.StructType(
      Seq(seed.head, seed(1).copy(nullable = true)))
    val toId = integralWriter(distSchema.head.dataType)
      .getOrElse(return None) // non-integral ids: distributed loop only
    val rows = once
      .select(col("a").cast("long"), col("b").cast("long")).collect()
    var i = 0
    while (i < rows.length) {
      if (rows(i).isNullAt(0) || rows(i).isNullAt(1)) return None
      i += 1
    }
    // union by MIN id (the root is always the smallest id seen, so the
    // final find(v) IS the component minimum) + path halving
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      parent.getOrElseUpdate(x, x)
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    i = 0
    while (i < rows.length) {
      val ra = find(rows(i).getLong(0))
      val rb = find(rows(i).getLong(1))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      i += 1
    }
    val out: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(parent.keysIterator.toArray.sorted
        .map(v => org.apache.spark.sql.Row(toId(v), toId(find(v)))): _*)
    Some(spark.createDataFrame(out, distSchema))
  }

  /** Long -> the integral runtime value of `dt`; None for non-integral
    * id types (those stay on the distributed legs). */
  private[ops] def integralWriter(
      dt: org.apache.spark.sql.types.DataType): Option[Long => Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some(v => v)
      case IntegerType => Some(v => v.toInt)
      case ShortType => Some(v => v.toShort)
      case ByteType => Some(v => v.toByte)
      case _ => None
    }
  }

  /** Cluster assignment for a corpus: every `idCol` row of `entities`
    * mapped to (id, cluster_rep, cluster_size); vertices absent from
    * `pairs` become singleton clusters of themselves. */
  def assignClusters(
      entities: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val comps = components(pairs, srcCol, dstCol)
      .select(col("id").as(idCol), col("comp"))
    // assigned feeds the size aggregate AND the final join — two tiny
    // columns per entity, materialize once (the labels underneath are
    // already checkpointed; this avoids re-running the entity join)
    val assigned = Materialize(entities.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("comp"), col(idCol)))
      .drop("comp"), eager = true)
    val sizes = assigned.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, Seq("cluster_rep"))
      .select(col(idCol), col("cluster_rep"), col("cluster_size"))
  }
}
