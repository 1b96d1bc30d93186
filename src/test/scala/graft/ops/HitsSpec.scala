package graft.ops

import graft.SparkSpec
import org.apache.spark.WithCheckpointDir

class HitsSpec extends SparkSpec {
  import spark.implicits._

  private val S = Hits.Scale

  test("hand-computed star after one round: co-cited authority wins, " +
    "better-pointing hub wins") {
    // h1 -> {a1, a2}, h2 -> a1: a1 is cited twice, h1 points at more
    val edges = Seq(("h1", "a1", 1L), ("h1", "a2", 1L), ("h2", "a1", 1L))
      .toDF("src", "dst", "w")
    val got = Hits.scores(edges, iters = 1)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // araw: a1 = 2S, a2 = S -> a1 = S, a2 = S/2
    assert(got("a1") == ((S, 0L)), got.toString)
    assert(got("a2") == ((S / 2, 0L)), got.toString)
    // hraw: h1 = a1+a2 = 3S/2, h2 = a1 = S -> h1 = S, h2 = (S*S) div (3S/2)
    assert(got("h1") == ((0L, S)), got.toString)
    assert(got("h2") == ((0L, S * S / (3 * S / 2))), got.toString)
  }

  test("pure sources have auth 0, pure sinks have hub 0, hottest sits " +
    "exactly at scale; edge direction matters") {
    val edges = Seq(("u", "v", 3L), ("u", "x", 1L), ("w", "v", 2L))
      .toDF("src", "dst", "w")
    val got = Hits.scores(edges, iters = 3)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("u")._1 == 0L && got("w")._1 == 0L, "sources: no authority")
    assert(got("v")._2 == 0L && got("x")._2 == 0L, "sinks: no hubness")
    assert(got.values.map(_._1).max == S, "max authority pinned at scale")
    assert(got.values.map(_._2).max == S, "max hub pinned at scale")
    assert(got("v")._1 > got("x")._1, "heavier in-weight outranks")
  }

  test("weights scale linearly before normalization, so uniform weight " +
    "rescaling leaves scores unchanged") {
    val e1 = Seq(("u", "v", 1L), ("u", "x", 2L), ("w", "v", 5L))
      .toDF("src", "dst", "w")
    val e7 = e1.withColumn("w",
      org.apache.spark.sql.functions.col("w") * 7L)
    val a = Hits.scores(e1, iters = 2)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val b = Hits.scores(e7, iters = 2)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a == b, s"$a vs $b")
  }

  test("reliable checkpoint path: identical scores, rdd files written") {
    val edges = Seq(("h1", "a1", 1L), ("h1", "a2", 2L), ("h2", "a1", 4L),
      ("a1", "h2", 1L)).toDF("src", "dst", "w")
    val plain = Hits.scores(edges, iters = 3)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val dir = specTempDir("hits-ck").toString
    try {
      val ck = WithCheckpointDir(dir) {
        Hits.scores(edges, iters = 3)
          .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
      }
      assert(ck == plain, "checkpointing must not change scores")
      val wrote = new java.io.File(dir).listFiles().exists(f =>
        f.isDirectory && f.listFiles().exists(_.getName.startsWith("rdd-")))
      assert(wrote, s"no rdd-* checkpoint dirs under $dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
