package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM; forked by sbt):
  * the [[GraftSession]] the mains run, fixed at 4 cores so plan-shape
  * specs do not depend on the host's core count. */
object TestSpark {
  val Cores = 4
  lazy val spark: SparkSession = GraftSession.build(Cores)

  /** ONE per-JVM root for every spec temp dir, deleted recursively on
    * JVM exit — the spec suites create ~70 temp dirs per `sbt test`
    * and per-call `Files.createTempDirectory` leaked them all across
    * rounds. Suites allocate through [[SparkSpec.specTempDir]]; the
    * shutdown hook removes the whole tree after the forked test JVM
    * finishes (afterAll-per-suite would fire while the shared session
    * still serves later suites reading sibling dirs). */
  lazy val tempRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-spec")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(del)
        f.delete(); ()
      }
      del(root.toFile)
    }))
    root
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Spec temp dir under the shared per-JVM root ([[TestSpark.tempRoot]])
    * — same contract as `Files.createTempDirectory(prefix)` but cleaned
    * up on JVM exit instead of leaking into /tmp. */
  def specTempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(TestSpark.tempRoot, prefix)
}
