package layerbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One call into a layer: `files` is the number of files under the
  * folder a blueprint call scans (0 elsewhere). */
final case class Span(id: Int, parent: Int, cycle: Int, layer: String,
    name: String, startMs: Long, startNs: Long, var endNs: Long,
    var endMs: Long, files: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Spans the benchmark records around each call into a layer's public
  * function. They stay in memory and are written out when the run ends.
  * All spans open and close on the driver thread, so children of one span
  * are sequential and its self time is its duration minus theirs. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var enabled = false
  var cycle = 0

  def apply[T](layer: String, name: String, files: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, stack.headOption.fold(-1)(_.id), cycle, layer,
        name, System.currentTimeMillis(), System.nanoTime(), -1L, -1L, files)
      all += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def selfSeconds: Map[Int, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    all.map(s => s.id -> (s.endNs - s.startNs - childNs(s.id)) / 1e9).toMap
  }

  def json: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"cycle":${s.cycle},""" +
      s""""layer":"${s.layer}","name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""dur_s":${s.seconds},"files":${s.files}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Counters of one completed stage. */
final class StageRec(val id: Int) {
  var name = ""
  var sites: Seq[String] = Nil
  var submitMs = 0L
  var endMs = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var delayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def wallSeconds: Double = (endMs - submitMs) / 1e3
  /** Whether one of the stage's RDDs was created in source file `file`. */
  def touches(file: String): Boolean =
    sites.exists(_.contains(file)) || name.contains(file)
}

final case class QueryRec(exchanges: Int, reused: Int)

/** Per-stage and per-query counters from Spark's listener buses. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  @volatile private var events = 0L

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += e.time; events += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val r = stage(i.stageId)
      r.name = i.name
      r.sites = i.rddInfos.map(_.callSite)
      r.submitMs = i.submissionTime.getOrElse(0L)
      r.endMs = i.completionTime.getOrElse(r.submitMs)
      events += 1
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stage(e.stageId)
    r.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // the scheduler-delay formula of Spark's own UI
      val ti = e.taskInfo
      r.delayMs += math.max(0L, ti.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        ti.gettingResultTime)
    }
    events += 1
  }

  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
    val (ex, re) = PlanCount(qe.executedPlan)
    synchronized { queries += QueryRec(ex, re) }
  }
  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Waits until no listener event has arrived for a while, so counters
    * read afterwards cover every job that has returned. */
  def drain(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(250) }
  }

  def stagesIn(from: Long, to: Long): Seq[StageRec] = synchronized {
    stages.values.filter(s => s.submitMs >= from && s.submitMs <= to).toSeq
  }
  /** Start times of the jobs started between `from` and `to`. */
  def jobsIn(from: Long, to: Long): Seq[Long] = synchronized {
    jobStarts.filter(t => t >= from && t <= to).toSeq
  }
  /** Every query execution seen; the listener is registered only while a
    * traced cycle runs, and its callbacks carry no start time. */
  def plans: Seq[QueryRec] = synchronized { queries.toSeq }

  def json: String = synchronized {
    stages.values.map { s =>
      s"""{"stage":${s.id},"name":"${esc(s.name)}",""" +
        s""""sites":[${s.sites.map(x => "\"" + esc(x) + "\"").mkString(",")}],""" +
        s""""submit_ms":${s.submitMs},"end_ms":${s.endMs},"tasks":${s.tasks},""" +
        s""""run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"delay_ms":${s.delayMs},""" +
        s""""shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead},""" +
        s""""spill":${s.spill}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
}

/** Exchange and reused-exchange counts of a final (post-AQE) plan,
  * subqueries included. */
object PlanCount extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val kinds = collectWithSubqueries(plan) {
      case _: ReusedExchangeExec => 1
      case _: Exchange => 0
    }
    (kinds.count(_ == 0), kinds.count(_ == 1))
  }
}
