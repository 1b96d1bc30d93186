package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed co-located joins: the write-once layout that deletes the
  * shuffle from fact-fact joins (SCALE.md §2), plan-asserted.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed fact-fact join runs exchange-free; the unbucketed twin " +
    "shuffles both sides; results identical") {
    // fixed names: writeBucketed's stale-location cleanup makes them
    // safe across crashed runs, and nothing accumulates per JVM
    val lt = "spec_bkt_lineitem"
    val ot = "spec_bkt_orders"
    val l = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity")
    val o = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderpriority")
    Bucketing.writeBucketed(l, lt, "l_orderkey", 4)
    Bucketing.writeBucketed(o, ot, "o_orderkey", 4)
    // the merge hint keeps the planner off the broadcast path so the
    // assertion is about the BUCKET mechanism, not a small-table escape
    val bucketed = spark.table(lt).hint("merge")
      .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
    val plain = l.hint("merge")
      .join(o, col("l_orderkey") === col("o_orderkey"))
    val gotB = bucketed.collect()
    val gotP = plain.collect()
    // layout, not semantics: both joins return the same multiset
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(r.fieldIndex("l_orderkey")),
        r.getLong(r.fieldIndex("o_orderkey")))
    assert(gotB.length == gotP.length && gotB.nonEmpty)
    assert(gotB.map(key).sorted.toSeq == gotP.map(key).sorted.toSeq)
    // THE contract: co-located bucketed sides join with ZERO exchanges;
    // the identical logical join over bare parquet shuffles both sides
    assert(PlanChecks.shuffleExchanges(bucketed) == 0,
      s"bucketed join must not shuffle:\n${bucketed.queryExecution}")
    assert(PlanChecks.shuffleExchanges(plain) >= 2,
      s"sanity: the unbucketed twin must shuffle both sides:\n" +
        s"${plain.queryExecution}")
    // same-session overwrite converges (the graded query re-runs in
    // Bench's median-of-3 loop): second write, same name, same result
    Bucketing.writeBucketed(l, lt, "l_orderkey", 4)
    assert(spark.table(lt).count() == l.count())
    spark.sql(s"DROP TABLE IF EXISTS $lt")
    spark.sql(s"DROP TABLE IF EXISTS $ot")
  }

  test("writeBucketed lays out exactly ONE file per bucket regardless " +
    "of input partitioning (the sort-free merge-join contract)") {
    // unaligned input: many partitions, each holding rows of EVERY
    // bucket — the naive write (no bucket-aligned repartition) would
    // emit up to partitions×buckets files, and a multi-file bucket
    // forfeits the sorted-bucket read (re-sort per bucket, anti-scaling
    // with cores: q54 measured 2.2s@8 vs 3.0s+@32 before the fix)
    val t = "spec_bkt_layout"
    val df = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 97).as("v")).repartition(13)
    Bucketing.writeBucketed(df, t, "k", 4)
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(loc).map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
    assert(files.length == 4,
      s"expected one file per bucket, got ${files.toSeq.sorted}")
    assert(spark.table(t).count() == 4000)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("writeBucketed survives a stale managed location left by a dead " +
    "session (files on disk, no catalog entry)") {
    val t = "spec_bkt_stale"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // simulate the crashed-JVM leftover: garbage at the default managed
    // location with NO catalog entry — a bare saveAsTable would refuse
    // to create over the non-empty directory
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    val out = fs.create(new org.apache.hadoop.fs.Path(loc, "garbage"))
    out.writeBytes("not parquet"); out.close()
    val o = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderpriority")
    Bucketing.writeBucketed(o, t, "o_orderkey", 4)
    assert(spark.table(t).count() == o.count())
    // and the garbage really is gone, not merged into the table dir
    assert(!fs.exists(new org.apache.hadoop.fs.Path(loc, "garbage")))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
