package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Runs `body` and returns its result with the number of Spark jobs it
  * started — a `SparkListener` job count, as `graft.Dev jobs` takes
  * one. Only jobs carrying this call's local-property tag count (Spark
  * hands local properties to the threads AQE and broadcasts run on), so
  * a job left running by another suite never lands in the total. Lives
  * in `org.apache.spark` to drain the listener bus (`waitUntilEmpty` is
  * private to Spark) instead of sleeping. */
object CountJobs {
  private val Tag = "graft.test.jobTag"

  def apply[T](body: => T): (T, Int) = {
    val sc = graft.TestSpark.spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(Tag) == tag)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, started.get)
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }
}
