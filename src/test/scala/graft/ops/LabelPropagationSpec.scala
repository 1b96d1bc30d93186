package graft.ops

import graft.SparkSpec
import org.apache.spark.WithCheckpointDir

class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(nodes: Seq[Long], edges: Seq[(Long, Long)],
      rounds: Int): Map[Long, Long] = {
    val n = nodes.map(i => (i, i)).toDF("id", "community")
    val e = edges.toDF("src", "dst")
    LabelPropagation.run(n, "id", "community", e, "src", "dst", rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("a clique converges to its smallest member's label") {
    val got = labelsOf(Seq(1L, 2L, 3L, 4L),
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)),
      rounds = 2)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("isolated nodes keep their own label") {
    val got = labelsOf(Seq(1L, 2L, 9L), Seq((1L, 2L)), rounds = 3)
    assert(got(9L) == 9L)
  }

  test("ties break to the smallest label (deterministic)") {
    // node 3 sees labels {1, 2} once each after round 1 of a path
    // 1-3-2: tie -> label 1
    val got = labelsOf(Seq(1L, 2L, 3L), Seq((1L, 3L), (2L, 3L)), rounds = 1)
    assert(got(3L) == 1L)
  }

  test("two cliques joined by one bridge stay separate communities") {
    def clique(ids: Seq[Long]) =
      for { a <- ids; b <- ids if a < b } yield (a, b)
    val ids1 = Seq(1L, 2L, 3L, 4L)
    val ids2 = Seq(10L, 11L, 12L, 13L)
    val got = labelsOf(ids1 ++ ids2,
      clique(ids1) ++ clique(ids2) :+ (4L, 10L), rounds = 2)
    // connected components would merge everything through the 4-10
    // bridge; majority propagation keeps the dense groups apart
    assert(ids1.map(got) == Seq(1L, 1L, 1L, 1L))
    assert(ids2.map(got) == Seq(10L, 10L, 10L, 10L))
  }

  test("reliable checkpoint path: identical communities, files written") {
    val dir = specTempDir("lp-ckpt").toString
    try {
      val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L)
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
        (5L, 6L), (3L, 4L))
      val n = nodes.map(i => (i, i)).toDF("id", "community")
      val e = edges.toDF("src", "dst")
      val plain = LabelPropagation
        .run(n, "id", "community", e, "src", "dst", rounds = 3)
        .as[(Long, Long)].collect().toMap
      val ck = WithCheckpointDir(dir) {
        LabelPropagation
          .run(n, "id", "community", e, "src", "dst", rounds = 3)
          .as[(Long, Long)].collect().toMap
      }
      assert(ck == plain, s"ck=$ck plain=$plain")
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint dirs under $dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("result is partition-independent") {
    val nodes = (1L to 40L)
    val rnd = new scala.util.Random(7)
    val edges = (1 to 120).map(_ =>
      (nodes(rnd.nextInt(40)), nodes(rnd.nextInt(40))))
      .filter { case (a, b) => a != b }.distinct
    val a = labelsOf(nodes, edges, rounds = 2)
    val n = nodes.map(i => (i, i)).toDF("id", "community").repartition(7)
    val e = edges.toDF("src", "dst").repartition(3)
    val b = LabelPropagation.run(n, "id", "community", e, "src", "dst", 2)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }
}
