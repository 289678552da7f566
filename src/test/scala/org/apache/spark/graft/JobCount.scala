package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts on the calling thread. Lives under
  * `org.apache.spark` for the listener bus drain (`private[spark]`), which
  * makes the count exact instead of racing the asynchronous bus.
  */
object JobCount {
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
