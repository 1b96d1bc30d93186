package graft

/** Per-JVM managed-table warehouse location. Every [[GraftSession]]
  * (Bench, Verify, Dev, the test suite) can create bucketed tables with
  * FIXED names (`graft_bkt_*`) — [[graft.ops.Bucketing.writeBucketed]]
  * clears the table's managed directory by name before writing, so
  * two JVMs sharing one warehouse path could delete each other's
  * table mid-query if run concurrently. Suffixing the warehouse root with
  * the JVM pid makes each process's catalog state private without
  * renaming any table; the shutdown hook reclaims the tmp space (a
  * kill -9 leaves the directory, which the OS tmp reaper handles —
  * the fixed shared path had the same property).
  */
object Warehouse {
  lazy val dir: String = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-warehouse-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(d)))
    d.getAbsolutePath
  }

  private def delete(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(delete)
    f.delete(); ()
  }
}
