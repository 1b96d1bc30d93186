package graft.streaming

import graft.ops.{RegexMatch, RenamePlan, Transfer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous-ingest blueprint: the streaming twin of
  * [[graft.Blueprints.upload]]. Watches a directory (FileStreamSource —
  * the incremental version of the S1/S2 catalog scan), applies the same
  * regex-match + rename projection per micro-batch, and executes the
  * transfer in `foreachBatch` via the batch [[Transfer]] operator.
  *
  * Each file is processed exactly once (source offsets + checkpoint);
  * rename numbering restarts per micro-batch ordinal-free (continuous
  * mode keeps basenames — enumerated renaming needs a global ordinal,
  * which an unbounded stream cannot have; SURVEY.md §2.5 A2).
  */
object BlueprintStream {

  /** Start a continuous upload from `watchDir` (glob ok) into
    * `containerUri`, keeping only names matching `pattern`. */
  def continuousUpload(
      spark: SparkSession,
      watchDir: String,
      pattern: String,
      containerUri: String,
      destFolder: String,
      checkpointDir: String): StreamingQuery = {
    // binaryFile's fixed schema must be stated explicitly for streaming
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val files = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .load(watchDir)
      .select(col("path"), col("length"))
    val root = if (containerUri.endsWith("/")) containerUri
      else containerUri + "/"
    // match on the root-relative NAME like the batch blueprint (the
    // source's `path` is an absolute URI; matching on it would expose
    // the watch-dir prefix to the user's pattern)
    val globIdx = watchDir.indexWhere(c => "*?[{".contains(c))
    val rootPart =
      if (globIdx < 0) watchDir
      else watchDir.substring(0, watchDir.lastIndexOf('/', globIdx))
    val marker =
      new org.apache.hadoop.fs.Path(rootPart).toUri.getPath.stripSuffix("/") + "/"
    val name = col("path")
      .substr(locate(marker, col("path")) + marker.length, lit(1 << 20))
    val selected = files
      .withColumn("name", name)
      .filter(RegexMatch(pattern).predicate(col("name")))
    BatchStore.start(
        selected.writeStream.trigger(Trigger.ProcessingTime("1 second")),
        checkpointDir) { (batch, _) =>
      val manifest = RenamePlan.planify(
          batch.select("path"), destFolder, None,
          RenamePlan.Numbering.Never)
        .select(col("path").as("src_path"),
          concat(lit(root), col("dest_path")).as("dest_path"))
      Transfer.copyFiles(manifest, overwrite = true)
    }
  }
}
