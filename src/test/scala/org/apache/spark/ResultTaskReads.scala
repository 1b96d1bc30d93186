package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Runs `body` and returns its result with the shuffle records each
  * result task of its jobs read, one entry per task: how evenly a
  * shuffle dealt the rows a final stage works on. Jobs are told apart
  * by a local-property tag, as in [[graftx.CountJobs]]. */
object ResultTaskReads {
  private val Tag = "graft.test.readsTag"

  def apply[T](body: => T): (T, Seq[Long]) = {
    val sc = graft.TestSpark.spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val reads = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(Tag) == tag)
          j.stageIds.foreach(stages.add)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskType == "ResultTask" &&
            t.taskMetrics != null)
          reads.add(t.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, reads.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }
}
