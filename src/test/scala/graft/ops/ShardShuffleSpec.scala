package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Epoch shuffle invariants that the SQL oracle can't express:
  * reproducibility across partitionings, seed independence, shard
  * balance, and the physical write shape (partition count + in-partition
  * epoch order). */
class ShardShuffleSpec extends SparkSpec {

  private def docs(parts: Int) = {
    val s = spark
    import s.implicits._
    (0L until 500L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
      .repartition(parts)
  }

  test("same seed replays bit-identically under any partitioning") {
    val a = ShardShuffle.assign(docs(3), "doc_id", "epoch-1", 16)
      .select("doc_id", "epoch_key", "shard_id").collect().toSet
    val b = ShardShuffle.assign(docs(11), "doc_id", "epoch-1", 16)
      .select("doc_id", "epoch_key", "shard_id").collect().toSet
    assert(a == b)
  }

  test("different seeds give an unrelated permutation") {
    val e1 = ShardShuffle.assign(docs(4), "doc_id", "epoch-1", 16)
      .select("doc_id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e2 = ShardShuffle.assign(docs(4), "doc_id", "epoch-2", 16)
      .select("doc_id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val moved = e1.count { case (id, s1) => e2(id) != s1 }
    // hash-uniform reassignment moves ~15/16 of docs; require well over half
    assert(moved > 350, s"only $moved/500 docs changed shard across seeds")
  }

  test("shards are balanced to sampling noise") {
    val sizes = ShardShuffle.manifest(docs(4), "doc_id", lit(1L),
        "epoch-1", 16)
      .select("n_docs").collect().map(_.getLong(0))
    assert(sizes.length == 16)
    assert(sizes.sum == 500L)
    // 500 docs over 16 shards: mean 31.25, sd ~5.4; 3x spread is ample
    assert(sizes.max <= 3 * math.max(sizes.min, 1L),
      s"skewed shards: ${sizes.mkString(",")}")
  }

  test("repartitionByShard: numShards partitions, epoch-ordered within") {
    val out = ShardShuffle.repartitionByShard(docs(4), "doc_id", "epoch-1", 8)
    assert(out.rdd.getNumPartitions == 8)
    val perPartitionSorted = out.select("epoch_key")
      .mapPartitions { it =>
        val keys = it.map(_.getLong(0)).toVector
        Iterator.single(keys == keys.sorted)
      }(org.apache.spark.sql.Encoders.scalaBoolean)
      .collect()
    assert(perPartitionSorted.forall(identity))
  }

  test("manifest first/last docs are the epoch-order endpoints") {
    val asg = ShardShuffle.assign(docs(4), "doc_id", "epoch-1", 16)
      .select("doc_id", "epoch_key", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = asg.groupBy(_._3).view.mapValues { rows =>
      (rows.minBy(_._2)._1, rows.maxBy(_._2)._1)
    }.toMap
    val got = ShardShuffle.manifest(docs(4), "doc_id", lit(1L),
        "epoch-1", 16)
      .select("shard_id", "first_doc", "last_doc").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("rejects bad arguments") {
    intercept[IllegalArgumentException] {
      ShardShuffle.assign(docs(1), "doc_id", "s", 0)
    }
    intercept[IllegalArgumentException] {
      ShardShuffle.assign(docs(1), "doc_id", "it's", 4)
    }
  }

  test("plan contracts: assignment map-only, write shape one exchange") {
    val s2 = spark
    import s2.implicits._
    // no fixture repartition here: the contract is that ASSIGN adds no
    // exchange of its own
    val flat = (0L until 100L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
    val asg = ShardShuffle.assign(flat, "doc_id", "epoch-1", 16)
    asg.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(asg) == 0,
      asg.queryExecution.executedPlan.toString)
    val rep = ShardShuffle.repartitionByShard(flat, "doc_id",
      "epoch-1", 8)
    rep.collect()
    assert(graft.ops.PlanChecks.shuffleExchanges(rep) == 1,
      rep.queryExecution.executedPlan.toString)
  }
}
