package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** The freeze-export differential: `pipeline_freeze_export` routes the
  * corpus through three incremental `freezeBatch` micro-batches and
  * exports shards from the frozen-doc STORE; `pipeline_data_freeze`
  * computes the same freeze as one batch plan. The two share one
  * oracle by construction — this spec pins the equality directly (and
  * the store-side manifest fold) so a divergence is caught at test
  * time, not only by the round driver's hash compare.
  */
class FreezeExportSpec extends SparkSpec {
  import spark.implicits._

  test("pipeline_freeze_export EQUALS pipeline_data_freeze row for " +
    "row: under monotone batch ids the incremental freeze stores " +
    "compose to the batch flagship's freeze, and the export recomputes " +
    "the identical shard manifest from the store alone") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sfDir).collect().map(_.toSeq).toSeq
    val export = rows("pipeline_freeze_export")
    val batch = rows("pipeline_data_freeze")
    assert(export.nonEmpty && export == batch,
      s"export=$export\nbatch=$batch")
  }

  test("the per-batch manifest rows the freeze wrote FOLD to the " +
    "export's totals: order-independent checksums compose across " +
    "micro-batches without re-reading any batch") {
    // the export query (re)writes the stores for this fixture dir —
    // run it first, then fold the manifest store it left behind
    val export = SparkEntry.queries("pipeline_freeze_export")(spark, sfDir)
      .select("shard_id", "n_docs", "total_tokens", "checksum")
      .as[(Long, Long, Long, Long)].collect().toSet
    val mf = graft.Scratch.dir("freeze-export", sfDir) + "/mf"
    val folded = FreezeExportSpec.foldManifest(spark, mf)
      .select(col("shard_id").cast("long"), col("n_docs"),
        col("total_tokens"), col("checksum"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(folded == export, s"folded=$folded export=$export")
  }

  test("plan contract: the export tail is keyed end to end — no " +
    "cartesian between the store read and the shard manifest") {
    graft.ops.PlanChecks.assertNoCartesian(
      SparkEntry.queries("pipeline_freeze_export")(spark, sfDir))
  }
}

object FreezeExportSpec {

  /** Fold a freeze manifest store to per-shard totals (distinct on
    * (batch_id, shard_id) first — replays are bit-identical, so dedup
    * is exact). The result equals the batch-side integrity manifest's
    * (n_docs, total_tokens, checksum) over all batches' rows. */
  def foldManifest(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .dropDuplicates("batch_id", "shard_id")
      .groupBy("shard_id")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("total_tokens").cast("long").as("total_tokens"),
        sum("checksum").cast("long").as("checksum"))
}
