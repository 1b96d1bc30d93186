package graft.queries

import graft.{SparkSpec, SparkEntry}
import graft.ext.TextAnalysis
import org.apache.spark.sql.functions._

/** Contracts for the train/val split-leakage audit. The oracle grades
  * exact values; this spec pins the properties AND the differential
  * against the sibling LSH query the audit composes. */
class SplitLeakageSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("split leakage: every reported doc is genuinely val-side, its " +
    "partner train-side, and the set matches the LSH pairs' " +
    "cross-split subset exactly") {
    // the LSH re-rank numbers a vocabulary with a one-task window only
    // while it is <= 4096 shingles (constant work at any corpus scale)
    // and re-ranks over postings above that — so no corpus-scale sort
    // ever funnels. The masks stage runs behind an eager
    // localCheckpoint so the final plan can't witness it; the
    // mask-free wide side is asserted in DedupSpec ("above 4096
    // shingles every leg equals brute-force Jaccard ...")
    val df = q("pipeline_split_leakage")
    val rows = df
      .select("val_doc", "n_train_partners", "best_train_doc",
        "best_jaccard")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty, "audit vacuous on this fixture")
    // side checks: the hash split must agree with text_train_split's
    def isTrain(id: Long): Boolean = spark.range(1)
      .select(TextAnalysis.tokenHash31(lit(id.toString)) % 100L < 90L)
      .as[Boolean].head()
    val sample = rows.take(5)
    sample.foreach { case (v, n, t, j) =>
      assert(!isTrain(v), s"val_doc $v hashes train-side")
      assert(isTrain(t), s"best_train_doc $t hashes val-side")
      assert(n >= 1L && j >= 0.95)
    }
    // differential: recompute the audit from dedup_minhash_lsh's own
    // graded output (pairs >= 0.95) — the two queries must agree on
    // every leaking doc, partner count, and best partner
    val pairs = q("dedup_minhash_lsh")
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    val trainSide = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(id => id -> isTrain(id)).toMap
    val cross = pairs.filter(p => trainSide(p._1) != trainSide(p._2))
      .map { case (a, b, j) =>
        if (trainSide(a)) (b, a, j) else (a, b, j) }
    val expected = cross.groupBy(_._1).map { case (v, ps) =>
      val best = ps.minBy { case (_, t, j) => (-j, t) }
      v -> (ps.length.toLong, best._2, best._3)
    }
    assert(rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap == expected)
  }
}
