package graft.ops

import graft.SparkSpec
import org.apache.spark.WithCheckpointDir
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val S = PageRank.Scale
  private def base = S * 15 / 100

  test("symmetric 2-cycle is stationary at the initial rank") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w")
    val got = PageRank.ranks(edges, iters = 3)
      .as[(String, Long)].collect().toMap
    // each round: pr = base + 85% of the full incoming rank = S exactly
    assert(got == Map("a" -> S, "b" -> S), got.toString)
  }

  test("hand-computed chain a->b (b dangling): two rounds") {
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val r2 = PageRank.ranks(edges, iters = 2)
      .as[(String, Long)].collect().toMap
    // round 1: a gets base only; b gets base + (85*S) div 100
    // round 2: b gets base + (85 * pr1(a)) div 100, pr1(a) = base
    assert(r2("a") == base, r2.toString)
    assert(r2("b") == base + 85L * base / 100, r2.toString)
  }

  test("reliable checkpoint path: identical ranks, files written, " +
    "both variants") {
    val dir = specTempDir("pr-ckpt").toString
    try {
      // a->b dangling chain exercises the conserving pool too
      val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("a", "c", 2L))
        .toDF("src", "dst", "w")
      val plain = PageRank.ranks(edges, iters = 4)
        .as[(String, Long)].collect().toMap
      val ck = WithCheckpointDir(dir) {
        PageRank.ranks(edges, iters = 4).as[(String, Long)].collect().toMap
      }
      assert(ck == plain, s"ck=$ck plain=$plain")
      val cons = PageRank.ranksConserving(edges, iters = 4)
        .as[(String, Long)].collect().toMap
      val consCk = WithCheckpointDir(dir) {
        PageRank.ranksConserving(edges, iters = 4)
          .as[(String, Long)].collect().toMap
      }
      assert(consCk == cons, s"ck=$consCk plain=$cons")
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint dirs under $dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("weighted split: contributions divide by total out-weight") {
    // a -> b (w=3), a -> c (w=1): b receives 3/4 of a's rank
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val r1 = PageRank.ranks(edges, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(r1("b") == base + 85L * (S * 3 / 4) / 100, r1.toString)
    assert(r1("c") == base + 85L * (S / 4) / 100, r1.toString)
  }

  test("conserving variant == plain variant when the graph has no sinks") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L), ("b", "c", 2L),
      ("c", "a", 1L)).toDF("src", "dst", "w")
    val plain = PageRank.ranks(edges, iters = 3)
      .as[(String, Long)].collect().toMap
    val cons = PageRank.ranksConserving(edges, iters = 3)
      .as[(String, Long)].collect().toMap
    assert(plain == cons, "no sinks -> zero dangling pool -> identical")
  }

  test("conserving chain a->b: hand-computed round 1, mass conserved") {
    val edges = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val r1 = PageRank.ranksConserving(edges, iters = 1)
      .as[(String, Long)].collect().toMap
    // sink b holds S; share = S div 2 to everyone
    assert(r1("a") == base + 85L * (S / 2) / 100, r1.toString)
    assert(r1("b") == base + 85L * (S + S / 2) / 100, r1.toString)
    val total = r1.values.sum
    assert(total <= 2 * S && total >= 2 * S - 4,
      s"mass conserved up to floor truncation, got $total vs ${2 * S}")
  }

  test("partition-independent and floor-bounded on a corpus bigram graph") {
    val docs = graft.Tables.documents(spark, sfDir).limit(200)
    val edges = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"),
        col("doc_id"))
      .withColumn("nxt", lead("t", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(monotonically_increasing_id())))
      .filter(col("nxt").isNotNull)
      .groupBy(col("t").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("w"))
      .cache()
    val a = PageRank.ranks(edges, iters = 3)
      .as[(String, Long)].collect().toMap
    val b = PageRank.ranks(edges.repartition(7), iters = 3)
      .as[(String, Long)].collect().toMap
    assert(a == b, "rank must not depend on partitioning")
    assert(a.values.forall(_ >= base), "every node keeps the base term")
    assert(a.values.exists(_ > S), "hub tokens must accumulate rank")
  }
}
