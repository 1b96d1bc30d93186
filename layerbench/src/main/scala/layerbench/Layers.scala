package layerbench

/** Per-layer metrics of the traced warm cycles. Counts are per cycle and
  * times per call unless the name says otherwise.
  *
  * Stages and jobs are charged to the span that was open when they were
  * submitted. A stage "scans the catalog" when one of its RDDs was created
  * in `FileCatalog.scala`, and is a transfer stage when one was created in
  * `Transfer.scala`. Catalog time is the self time of the `FileCatalog`
  * spans (driver-side listing) plus the wall time of catalog-scanning
  * stages, which run later inside whichever call forces the listing. */
object Layers {
  def apply(m: Metrics, spans: Spans, c: Counters, traced: Seq[Main.Cycle]): Unit = {
    val cycles = math.max(1, traced.size).toDouble
    val windows = traced.map(t => (t.startMs, t.endMs))
    val stages = windows.flatMap { case (a, b) => c.stagesIn(a, b) }
    val jobs = windows.flatMap { case (a, b) => c.jobsIn(a, b) }
    val plans = c.plans
    val self = spans.selfSeconds
    def named(n: String) = spans.all.filter(_.name == n).toSeq
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def cpuOverRun(ss: Seq[StageRec]) =
      ratio(ss.map(_.cpuNs).sum / 1e6, ss.map(_.runMs).sum.toDouble)

    // blueprints
    val bp = spans.all.filter(_.layer == "blueprints").toSeq
    val calls = bp.size.toDouble
    m("blueprints.jobs_per_call", "count",
      ratio(jobs.count(j => bp.exists(_.covers(j))), calls))

    // catalog
    val scans = stages.filter(_.touches("FileCatalog.scala"))
    val catSpans = spans.all.filter(_.layer == "catalog").toSeq
    val catSeconds = catSpans.map(s => self(s.id)).sum + scans.map(_.wallSeconds).sum
    val listed = scans.map(s => bp.find(_.covers(s.submitMs)).fold(0L)(_.files)).sum
    m("catalog.list_s", "s", ratio(catSeconds, calls))
    m("catalog.files_listed", "count", listed / cycles)
    m("catalog.us_per_file", "us", ratio(catSeconds * 1e6, listed.toDouble))
    m("catalog.cpu_over_run", "ratio", cpuOverRun(scans))
    m("catalog.scans_per_call", "count", ratio(scans.size, calls))

    // rename: planify minus the catalog scans it forces
    val plan = named("RenamePlan.planify")
    val planScans = scans.filter(s => plan.exists(_.covers(s.submitMs)))
    m("rename.planify_s", "s", ratio(math.max(0.0,
      plan.map(s => self(s.id)).sum - planScans.map(_.wallSeconds).sum), plan.size))
    m("rename.jobs", "count",
      ratio(jobs.count(j => plan.exists(_.covers(j))), plan.size))

    // transfer
    val copies = named("Transfer.copyFiles")
    m("transfer.copy_s", "s", ratio(copies.map(s => self(s.id)).sum, copies.size))
    val moving = traced.flatMap(_.ops).filter(o => o.kind != "plan" && o.files > 0)
    val xferSpans = spans.all.filter(_.layer == "transfer").toSeq
    val xfer = stages.filter(_.touches("Transfer.scala"))
    m("transfer.files", "count", moving.map(_.files).sum / cycles)
    m("transfer.mib", "MiB", moving.map(_.bytes).sum / 1048576.0 / cycles)
    m("transfer.us_per_file", "us", ratio(
      xferSpans.map(s => self(s.id)).sum * 1e6, moving.map(_.files).sum.toDouble))
    m("transfer.tasks", "count", xfer.map(_.tasks).sum / cycles)
    m("transfer.cpu_over_run", "ratio", cpuOverRun(xfer))

    // Spark: scheduler, executors, shuffle, plans
    val cycleSeconds = traced.map(_.seconds).sum
    m("scheduler.jobs", "count", jobs.size / cycles)
    m("scheduler.stages", "count", stages.size / cycles)
    m("scheduler.tasks", "count", stages.map(_.tasks).sum / cycles)
    m("scheduler.delay_s", "s", stages.map(_.delayMs).sum / 1e3 / cycles)
    m("exec.cpu_s", "s", stages.map(_.cpuNs).sum / 1e9 / cycles)
    m("exec.run_s", "s", stages.map(_.runMs).sum / 1e3 / cycles)
    m("exec.cpu_over_wall", "ratio",
      ratio(stages.map(_.cpuNs).sum / 1e9, cycleSeconds))
    m("shuffle.write_mib", "MiB", stages.map(_.shuffleWrite).sum / 1048576.0 / cycles)
    m("shuffle.read_mib", "MiB", stages.map(_.shuffleRead).sum / 1048576.0 / cycles)
    m("shuffle.spill_mib", "MiB", stages.map(_.spill).sum / 1048576.0 / cycles)
    m("plan.exchanges", "count", plans.map(_.exchanges).sum / cycles)
    m("plan.reused_exchanges", "count", plans.map(_.reused).sum / cycles)

    // queries
    CurationHotset.Queries.foreach { q =>
      val ss = named(s"q.$q")
      m(s"q.$q.s", "s", Main.median(ss.map(_.seconds)))
      m(s"q.$q.jobs", "count",
        Main.median(ss.map(s => jobs.count(s.covers).toDouble)))
    }
  }
}
