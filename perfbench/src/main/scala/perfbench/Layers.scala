package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One op the client ran: a request, an ingest step's call, a curate stage. */
final case class Op(id: String, cls: String, start: Double, end: Double)

/** What the engine's layers did, seen from the benchmark's side: a
  * SparkListener (jobs, stages, tasks), a StreamingQueryListener (trigger
  * phases), a QueryExecutionListener (actions and their plan phases) and
  * the JVM's GC notifications. Registered only for traced runs.
  */
final class Layers(spark: SparkSession, tracer: Tracer) {

  import Layers._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Option[String], Double)]
  private val jobs = new ConcurrentLinkedQueue[Job]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val schedDelay = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]
  private val stages = new ConcurrentLinkedQueue[Stage]
  private val triggers = new ConcurrentLinkedQueue[Trigger]
  private val actions = new ConcurrentLinkedQueue[Action]
  private val gcs = new ConcurrentLinkedQueue[(Double, Double)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStarts.put(e.jobId, (group, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (group, start) = Option(jobStarts.get(e.jobId)).getOrElse((None, e.time.toDouble))
      jobs.add(Job(e.jobId, group, start, e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        // the Spark UI's scheduler delay: task wall time not spent running,
        // (de)serializing or fetching the result
        val d = math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
        schedDelay.merge(e.stageId, d.toDouble, (a, b) => a + b)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) stages.add(Stage(
        s.stageId, Option(stageJob.get(s.stageId)).map(_.intValue).getOrElse(-1),
        s.submissionTime.getOrElse(0L).toDouble, s.completionTime.getOrElse(0L).toDouble,
        s.numTasks, m.executorCpuTime / 1e6, m.executorRunTime.toDouble, m.jvmGCTime.toDouble,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Trigger(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.add(Action(tracer.nowMs(), durationNs / 1e6))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actions.add(Action(tracer.nowMs(), 0.0))
  }

  private val gcListener = new javax.management.NotificationListener {
    private val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
        gcs.add((jvmStart + info.getStartTime, jvmStart + info.getEndTime))
      }
  }

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gcMsAtStart = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    gcBeans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
      .addNotificationListener(gcListener, null, null))
    heapPools.foreach(_.resetPeakUsage())
    gcMsAtStart = gcBeans.map(_.getCollectionTime).sum
  }

  /** Waits for the listener bus to deliver the events of every job that
    * started, then unregisters. All ops have returned by now, so every job
    * has ended; only delivery can lag.
    */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while ((jobs.size < jobStarts.size) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // stage/QE events trail their job's end event
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    gcBeans.foreach(b => scala.util.Try(b.asInstanceOf[javax.management.NotificationEmitter]
      .removeNotificationListener(gcListener)))
  }

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  def gcMs: Double = (gcBeans.map(_.getCollectionTime).sum - gcMsAtStart).toDouble

  /** The op each job ran for: its job group when that names an op, else
    * the op whose interval holds the job's start (streaming jobs run under
    * the stream's own group).
    */
  def jobOps(ops: Seq[Op]): Map[Int, Op] = {
    val byId = ops.map(o => o.id -> o).toMap
    jobs.asScala.toSeq.flatMap { j =>
      j.group.flatMap(byId.get)
        .orElse(ops.find(o => o.start - 1 <= j.start && j.start <= o.end + 1))
        .map(j.id -> _)
    }.toMap
  }

  def allJobs: Seq[Job] = jobs.asScala.toSeq
  def allStages: Seq[Stage] = stages.asScala.toSeq
  def allTriggers: Seq[Trigger] = triggers.asScala.toSeq.sortBy(_.start)
  def allActions: Seq[Action] = actions.asScala.toSeq
  def stageSchedDelayMs(stage: Int): Double =
    Option(schedDelay.get(stage)).map(_.doubleValue).getOrElse(0.0)

  /** Listener-reported intervals as detached spans for the tracer. */
  def spans(): Seq[Span] =
    allTriggers.map(t => Span(0, -2, "", "streaming", "trigger", t.start,
      t.start + t.durations.getOrElse("triggerExecution", 0L))) ++
      allJobs.map(j => Span(0, -2, "", "spark", "job", j.start, j.end, j.id.toLong)) ++
      allStages.map(s => Span(0, -2, "", "spark", "stage", s.submit, s.complete, s.job.toLong)) ++
      gcs.asScala.toSeq.map { case (s, e) => Span(0, -2, "", "jvm", "gc", s, e) }
}

object Layers {
  final case class Job(id: Int, group: Option[String], start: Double, end: Double)
  final case class Stage(
      id: Int, job: Int, submit: Double, complete: Double, tasks: Int,
      cpuMs: Double, runMs: Double, gcMs: Double, shuffleRead: Long,
      shuffleWrite: Long, spill: Long)
  final case class Trigger(start: Double, durations: Map[String, Long])
  /** A finished query action: when it was reported and how long it ran. */
  final case class Action(end: Double, durMs: Double)
}
