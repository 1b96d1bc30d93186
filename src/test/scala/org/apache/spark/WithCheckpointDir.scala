package org.apache.spark

/** Runs `body` with the shared test session's checkpoint directory set
  * to `dir` — the fault-tolerant mode of `graft.ops.Materialize` — and
  * restores the previous value (usually none) afterwards, so one spec's
  * temp dir never leaks into later suites. Lives in `org.apache.spark`
  * because `SparkContext` has no public way to unset the directory. */
object WithCheckpointDir {
  def apply[T](dir: String)(body: => T): T = {
    val sc = graft.TestSpark.spark.sparkContext
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
