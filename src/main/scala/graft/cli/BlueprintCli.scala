package graft.cli

import graft.Blueprints
import graft.ops.{BlueprintError, ExactMatch, MatchType, RegexMatch}
import org.apache.spark.sql.SparkSession

/** The drop-in CLI: one process per blueprint, same flags, same exit
  * codes as the reference scripts (`upload_file.py:10-47` argparse
  * surface + `exit_codes.py`). A reference user's invocation
  *
  * {{{
  * python -m azurestorage_blueprints.download_file \
  *   --container-name c --source-file-name '\.csv$' \
  *   --source-file-name-match-type regex_match \
  *   --source-folder-name in --destination-folder-name out
  * }}}
  *
  * becomes
  *
  * {{{
  * spark-submit --class graft.cli.BlueprintCli <jar> download \
  *   --container-uri abfss://c@acct.dfs.core.windows.net/ \
  *   --source-file-name '\.csv$' \
  *   --source-file-name-match-type regex_match \
  *   --source-folder-name in --destination-folder-name out \
  *   --local-root file:///data
  * }}}
  *
  * (`--container-name`+`--connection-string` are replaced by an explicit
  * `--container-uri` plus optional `--connection-string` mapped through
  * [[graft.catalog.AzureConf]] — URIs make the same binary work against
  * file://, hdfs://, s3a:// and abfss://.)
  *
  * A local tree with non-ASCII file names needs a UTF-8 locale in every
  * JVM that lists it: under the POSIX locale Java decodes such names as
  * `?`. Set `LC_ALL` for the driver and for the executors, e.g.
  * `LC_ALL=C.UTF-8 spark-submit --conf spark.executorEnv.LC_ALL=C.UTF-8 …`
  * (`sbt run` sets it from `build.sbt`).
  */
object BlueprintCli {

  final case class Args(
      op: String,
      containerUri: String = "",
      localRoot: String = "",
      sourceFolderName: String = "",
      sourceFileName: String = "",
      matchType: String = "exact_match",
      destinationFolderName: String = "",
      destinationFileName: Option[String] = None,
      connectionString: Option[String] = None,
      dryRun: Boolean = false)

  def parse(argv: Array[String]): Args = {
    require(argv.nonEmpty, "usage: <upload|download|move|delete> [flags]")
    var a = Args(op = argv(0))
    var i = 1
    while (i < argv.length) {
      val v = () => {
        i += 1
        if (i >= argv.length) throw new IllegalArgumentException(
          s"flag ${argv(i - 1)} requires a value")
        argv(i)
      }
      argv(i) match {
        case "--container-uri"               => a = a.copy(containerUri = v())
        case "--local-root"                  => a = a.copy(localRoot = v())
        case "--source-folder-name"          => a = a.copy(sourceFolderName = v())
        case "--source-file-name"            => a = a.copy(sourceFileName = v())
        case "--source-file-name-match-type" => a = a.copy(matchType = v())
        case "--destination-folder-name"     => a = a.copy(destinationFolderName = v())
        case "--destination-file-name"       => a = a.copy(destinationFileName = Some(v()))
        case "--connection-string"           => a = a.copy(connectionString = Some(v()))
        case "--dry-run"                     => a = a.copy(dryRun = true)
        case other => throw new IllegalArgumentException(s"unknown flag $other")
      }
      i += 1
    }
    require(a.sourceFileName.nonEmpty, "--source-file-name is required")
    require(Set("exact_match", "regex_match")(a.matchType),
      "--source-file-name-match-type must be exact_match|regex_match")
    a
  }

  def matchTypeOf(a: Args): MatchType =
    if (a.matchType == "regex_match") RegexMatch(a.sourceFileName)
    else ExactMatch(a.sourceFileName)

  /** Runs one blueprint; returns the process exit code (0 = success). */
  def run(spark: SparkSession, a: Args): Int =
    try {
      a.connectionString.foreach(graft.catalog.AzureConf(spark, _))
      val mt = matchTypeOf(a)
      val report = a.op match {
        case "upload" => Blueprints.upload(spark, a.localRoot,
          a.sourceFolderName, mt, a.containerUri, a.destinationFolderName,
          a.destinationFileName, execute = !a.dryRun)
        case "download" => Blueprints.download(spark, a.containerUri,
          a.sourceFolderName, mt, a.localRoot, a.destinationFolderName,
          a.destinationFileName, execute = !a.dryRun)
        case "move" => Blueprints.move(spark, a.containerUri,
          a.sourceFolderName, mt, a.destinationFolderName,
          a.destinationFileName, execute = !a.dryRun)
        case "delete" => Blueprints.delete(spark, a.containerUri,
          a.sourceFolderName, mt, execute = !a.dryRun)
        case other =>
          throw new IllegalArgumentException(s"unknown operation $other")
      }
      println(s"${report.matched} files processed")
      0
    } catch {
      case e: BlueprintError =>
        System.err.println(e.getMessage)
        e.exitCode
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        2
    }

  def main(argv: Array[String]): Unit = {
    // parse failures are usage errors (exit 2), not JVM stack traces —
    // same contract as argparse's SystemExit(2)
    val a =
      try parse(argv)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage); sys.exit(2)
      }
    val builder = SparkSession.builder()
      .appName(s"graft-${a.op}")
      .withExtensions(new graft.GraftExtensions)
    // spark-submit injects spark.master; standalone runs default local
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master("local[*]")).getOrCreate()
    val code = run(spark, a)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
