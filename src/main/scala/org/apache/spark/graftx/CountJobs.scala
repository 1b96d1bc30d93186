package org.apache.spark.graftx

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Counts what the Spark jobs of one block cost. Only jobs carrying the
  * call's local-property tag count (Spark hands local properties to the
  * threads adaptive execution and broadcasts run on), so a job another
  * thread leaves running never lands in the total; their stages, tasks
  * and shuffle bytes count through the stage ids each tagged job names.
  * The listener bus is drained before the counters are read. Lives in
  * a subpackage of `org.apache.spark` solely for that drain
  * (`waitUntilEmpty` is `private[spark]`).
  */
object CountJobs {
  private val Tag = "graft.jobTag"

  /** The tagged jobs of one block. `jobLines` holds one line per job:
    * its id, wall ms, stage count and call site. */
  final case class Census(jobs: Int, stages: Int, tasks: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      jobLines: Seq[String])

  /** `body`'s result and the number of jobs it started. */
  def apply[T](body: => T): (T, Int) = {
    val (r, c) = census(body)
    (r, c.jobs)
  }

  /** `body`'s result and the census of the jobs it started, on the
    * active session's context. */
  def census[T](body: => T): (T, Census) = {
    val sc = SparkSession.active.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val listener = new Listener(tag)
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, listener.census)
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }

  private final class Listener(tag: String) extends SparkListener {
    private var jobs, stages = 0
    private var tasks, shuffleRead, shuffleWrite = 0L
    private val ours = mutable.Set[Int]()
    private val open = mutable.Map[Int, (Long, Int, String)]()
    private val jobLines = mutable.ArrayBuffer[String]()

    def census: Census = synchronized {
      Census(jobs, stages, tasks, shuffleRead, shuffleWrite, jobLines.toSeq)
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      if (j.properties != null && j.properties.getProperty(Tag) == tag) {
        jobs += 1
        ours ++= j.stageIds
        val site = j.stageInfos.map(_.name.takeWhile(_ != '\n'))
          .mkString(" | ").take(120)
        open(j.jobId) = (j.time, j.stageIds.size, site)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      open.remove(j.jobId).foreach { case (t0, st, site) =>
        jobLines += f"job=${j.jobId}%5d ${j.time - t0}%7d ms st=$st%3d  $site"
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        if (ours(s.stageInfo.stageId)) {
          stages += 1
          tasks += s.stageInfo.numTasks
        }
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (ours(t.stageId) && m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}
