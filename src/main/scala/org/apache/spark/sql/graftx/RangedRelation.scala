package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Lets a source whose RDD already holds its rows range-partitioned on
  * one column say so in its plan: the frame's `LogicalRDD` leaf is
  * rebuilt with `RangePartitioning(col ASC, numPartitions)`, the
  * partitioning a `repartitionByRange` on that column delivers. Rows
  * within a partition may come in any order; no ordering is claimed.
  * Nothing checks the claim here, and Spark's planner trusts it
  * everywhere (an `orderBy` on the column plans no exchange), so a
  * consumer that relies on it must verify what it reads. Lives in a
  * subpackage of `org.apache.spark.sql` solely for `Dataset.ofRows`
  * access.
  */
object RangedRelation {

  /** `df` (a frame made by `createDataFrame` over an RDD) claiming that
    * partition i holds only keys ≤ those of partition i+1 in `colName`,
    * in Spark's own string order. */
  def claim(df: DataFrame, colName: String): DataFrame =
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val key = r.output.find(_.name == colName).getOrElse(
          throw new IllegalArgumentException(
            s"RangedRelation.claim: no column $colName"))
        val spark = df.sparkSession.asInstanceOf[SparkSession]
        Dataset.ofRows(spark, LogicalRDD(r.output, r.rdd,
          RangePartitioning(Seq(SortOrder(key, Ascending)),
            r.rdd.getNumPartitions))(spark))
      case other => throw new IllegalArgumentException(
        s"RangedRelation.claim: not an RDD-backed frame (${other.nodeName})")
    }
}
