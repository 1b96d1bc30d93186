package layerbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark program: one process, `local[4]`, the session conf of
  * `graft.Bench`. It sets up three times (the first from JVM start),
  * runs one cold cycle, then warm cycles for the requested seconds, and
  * writes every metric it computed to a JSON file.
  *
  * With tracing on, half the warm cycles are traced (spans, Spark
  * listener, query-execution listener) and half are not, so the run also
  * measures its own tracing overhead.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *        <benchDir> <outJson>
  */
object Main {
  val Cpus = 4
  val Setups = 3

  final case class Cycle(traced: Boolean, ops: Seq[Op], startMs: Long,
      endMs: Long, gcMs: Long, codegen: Long, residentMib: Double) {
    def seconds: Double = ops.map(_.seconds).sum
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", graft.Warehouse.dir)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `graft.Bench`'s fixed calibration aggregate. */
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 64000000L, 1L, 32)
      .selectExpr("id % 4096 AS k", "(id % 97) AS v")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.expr("sum(v*v)").as("s"))
      .selectExpr("sum(s)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) CPU ticks so far, from the first line of /proc/stat;
    * zeros where it cannot be read. Steal is time the host gave this
    * machine's virtual CPUs to someone else. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(name, seedS, secondsS, traceS, workS, benchS, outS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    val workload = Workload(name, seed, work.resolve("data"),
      Paths.get(benchS).toAbsolutePath)

    // set-up: session ready, inputs generated, first job done
    var spark: SparkSession = null
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      spark = session(work)
      workload.prepare()
      spark.range(1000).selectExpr("sum(id)").collect()
      if (i == 0) (System.currentTimeMillis() - jvmStart) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    val sp = spark
    // contention evidence for the traced run, outside the cycles
    val probes = mutable.ArrayBuffer.empty[Double]
    if (trace) probes += probe(sp)

    val spans = new Spans
    val counters = new Counters
    val calls = new Calls(sp, spans)
    def runCycle(k: Int, traced: Boolean): Cycle = {
      workload.reset()
      if (traced) {
        sp.sparkContext.addSparkListener(counters)
        sp.listenerManager.register(counters)
      }
      spans.cycle = k
      spans.enabled = traced
      val gc0 = gcMs(); val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.currentTimeMillis()
      val ops = workload.cycle(calls, sp)
      val t1 = System.currentTimeMillis()
      val gc = gcMs() - gc0
      val cg = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      spans.enabled = false
      if (traced) {
        counters.drain()
        sp.listenerManager.unregister(counters)
        sp.sparkContext.removeSparkListener(counters)
      }
      sp.catalog.clearCache()
      val resident = sp.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0
      val c = Cycle(traced, ops, t0, t1, gc, cg, resident)
      System.err.println(f"[layerbench] cycle $k traced=$traced ${c.seconds}%.3f s: " +
        ops.map(o => f"${o.kind}=${o.seconds}%.3f").mkString(" "))
      c
    }

    val cold = runCycle(0, traced = false)
    val warm = mutable.ArrayBuffer.empty[Cycle]
    val t0 = System.nanoTime()
    val ticks0 = cpuTicks()
    while (warm.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds)
      // traced, untraced, untraced, traced, ...: the warm-up trend that
      // remains after the cold cycle cancels out of the tracing overhead
      warm += runCycle(warm.size + 1, trace && Set(0, 3).contains(warm.size % 4))
    val ticks1 = cpuTicks()
    if (trace) probes += probe(sp)

    val m = new Metrics
    val all = (cold +: warm.toSeq).flatMap(_.ops)
    val plain = warm.filterNot(_.traced).toSeq
    val plainOps = plain.flatMap(_.ops)
    m("setup_s", "s", median(setups))
    m("jvm.first_setup_s", "s", setups.head)
    m("cycle_s", "s", median(plain.map(_.seconds)))
    m("cycles", "count", plain.size)
    // no call kind reaches the 40 samples a p75 with ten beyond it needs,
    // so per-call timings are medians only
    Seq("upload", "plan").foreach { kind =>
      m(s"blueprints.${kind}_s", "s",
        median(plainOps.filter(_.kind == kind).map(_.seconds)))
    }
    val acted = plainOps.filter(_.files > 0)
    m("blueprints.files_per_s", "1/s",
      if (acted.isEmpty) 0.0 else acted.map(_.files).sum / acted.map(_.seconds).sum)
    val copied = plainOps.filter(_.bytes > 0)
    m("blueprints.mib_per_s", "MiB/s",
      if (copied.isEmpty) 0.0
      else copied.map(_.bytes).sum / 1048576.0 / copied.map(_.seconds).sum)

    m("jvm.first_cycle_s", "s", cold.seconds)
    m("jvm.gc_ms", "ms", median(plain.map(_.gcMs.toDouble)))
    m("jvm.codegen_compiles", "count", median(plain.map(_.codegen.toDouble)))
    m("storage.resident_mib", "MiB", median(plain.map(_.residentMib)))
    m("env.steal_share", "ratio", (ticks1._1 - ticks0._1).toDouble /
      math.max(1L, ticks1._2 - ticks0._2))
    if (trace) {
      m("env.probe_s", "s", median(probes.toSeq))
      counters.drain()
      val traced = warm.filter(_.traced).toSeq
      Layers(m, spans, counters, traced)
      m("trace.cycle_s", "s", median(traced.map(_.seconds)))
      m("trace.overhead_s", "s",
        median(traced.map(_.seconds)) - median(plain.map(_.seconds)))
      val out = Paths.get(outS).getParent
      Files.write(out.resolve(s"spans-$name-$seed.json"), spans.json.getBytes("UTF-8"))
      Files.write(out.resolve(s"stages-$name-$seed.json"), counters.json.getBytes("UTF-8"))
    }

    val failed = all.count(!_.ok)
    val json = s"""{"attempted":${all.size},"failed":$failed,"metrics":${m.json}}"""
    Files.write(Paths.get(outS), (json + "\n").getBytes("UTF-8"))
    sp.stop()
  }
}

final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def apply(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  def json: String = values.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "0" else v.toString
    s""""$k":{"value":$num,"unit":"$u"}"""
  }.mkString("{", ",", "}")
}
