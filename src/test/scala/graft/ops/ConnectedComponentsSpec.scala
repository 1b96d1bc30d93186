package graft.ops

import graft.SparkSpec
import org.apache.spark.WithCheckpointDir

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.components(edges.toDF("u", "v"), "u", "v")
      .as[(Long, Long)].collect().toMap

  /** Reference union-find for differential checks. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    // min-relabel: root found by union-by-min is already the min id
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("long chain (worst-case diameter) collapses to the min id") {
    val chain = (1L until 30L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to 30L).toSet)
  }

  test("two components and edge direction independence") {
    val got = cc(Seq((5L, 3L), (3L, 9L), (20L, 10L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 10L -> 10L, 20L -> 10L))
  }

  test("differential vs union-find on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)).filter(e => e._1 != e._2)
    assert(cc(edges) == unionFind(edges))
  }

  test("empty edge list: every entity a singleton, no NPE") {
    val entities = (1L to 4L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = ConnectedComponents
      .assignClusters(entities, "doc_id", noPairs, "id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == (1L to 4L).map(i => (i, i, 1L)).toSet)
  }

  test("reliable checkpoint path: same fixpoint, files actually written") {
    val dir = specTempDir("cc-ckpt").toString
    try {
      val chain = (1L until 30L).map(i => (i, i + 1))
      val got = WithCheckpointDir(dir) {
        ConnectedComponents.components(chain.toDF("u", "v"), "u", "v")
          .as[(Long, Long)].collect().toMap
      }
      assert(got == cc(chain), "reliable path must reach the same fixpoint")
      // the checkpoint dir must really route through df.checkpoint:
      // reliable checkpoint files land under <dir>/<uuid>/rdd-*
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint dirs under $dir")
      // end-to-end through assignClusters too
      val entities = (1L to 30L).toDF("doc_id")
      val assigned = WithCheckpointDir(dir) {
        ConnectedComponents.assignClusters(entities, "doc_id",
            chain.toDF("id_a", "id_b"), "id_a", "id_b")
          .as[(Long, Long, Long)].collect()
      }
      assert(assigned.forall { case (_, rep, size) => rep == 1L && size == 30L })
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("forced distributed loop equals the driver union-find leg, " +
    "values and schema") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(e => e._1 != e._2)
    val localGot = cc(edges) // default bound: local union-find leg
    val localSchema = ConnectedComponents
      .components(edges.toDF("u", "v"), "u", "v").schema
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try {
      assert(cc(edges) == localGot,
        "distributed and local legs must agree on the fixpoint")
      assert(ConnectedComponents
        .components(edges.toDF("u", "v"), "u", "v").schema == localSchema,
        "the two legs must expose identical output schemas")
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("int-typed ids: local leg preserves the union-widened type") {
    val df = Seq((1, 2), (2, 3), (7, 9)).toDF("u", "v")
    val local = ConnectedComponents.components(df, "u", "v")
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try {
      val dist = ConnectedComponents.components(df, "u", "v")
      assert(local.schema == dist.schema, s"${local.schema} vs ${dist.schema}")
      assert(local.collect().toSet == dist.collect().toSet)
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("assignClusters covers singletons and sizes") {
    val entities = (1L to 8L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = ConnectedComponents
      .assignClusters(entities, "doc_id", pairs, "id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 1L), (5L, 5L, 2L), (6L, 5L, 2L),
      (7L, 7L, 1L), (8L, 8L, 1L)))
  }
}
