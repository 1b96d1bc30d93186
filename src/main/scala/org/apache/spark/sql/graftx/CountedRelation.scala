package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Cuts a frame's plan to a fresh `LogicalRDD` leaf over the frame's row
  * RDD, with statistics built from a row count the caller measured:
  * `rowCount = rows` and `sizeInBytes = rows ×` the schema's per-row
  * estimate. Those stats stay constant in size however deep the plan
  * that produced the rows was. A checkpoint's leaf instead copies its
  * origin plan's estimate, and a chain of self-joins squares that
  * estimate at every link: the BigInt's digit count doubles per link
  * (SCALE.md §17). Reading the leaf re-runs the frame's executed plan
  * above whatever it reads, so the frame should be a cheap projection
  * of stored rows. Lives in a subpackage of `org.apache.spark.sql`
  * solely for `Dataset.ofRows` access.
  */
object CountedRelation {

  def cut(df: DataFrame, rows: Long): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    val output = df.queryExecution.analyzed.output.map(_.newInstance())
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(output) * rows,
      rowCount = Some(BigInt(rows)))
    Dataset.ofRows(spark,
      LogicalRDD(output, df.queryExecution.toRdd)(spark, Some(stats)))
  }
}
