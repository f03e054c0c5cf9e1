package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What Spark's public listener APIs report about jobs, stages and
  * tasks. The client thread names the phase of the current operation in
  * a local property; Spark copies it onto every job that thread (or a
  * streaming thread it started) submits. Events arrive on Spark's
  * background queues; the harness waits for those to drain and then
  * collects them with [[drain]], so they belong to the operation or pass
  * that just ran. Times are epoch milliseconds. */
final class Recorder extends SparkListener {
  import Recorder._

  private val jobs = ArrayBuffer.empty[Job]
  private val open = scala.collection.mutable.Map.empty[Int, Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open(e.jobId) = Job(e.jobId, prop(e.properties, PhaseKey), e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += Task(e.stageId, i.launchTime, i.finishTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead)
  }

  /** Everything finished since the last drain; jobs still running stay. */
  def drain(): (Seq[Job], Seq[Stage], Seq[Task]) = synchronized {
    val out = (jobs.toList, stages.toList, tasks.toList)
    jobs.clear(); stages.clear(); tasks.clear()
    out
  }
}

object Recorder {
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, phase: String, startMs: Long, endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, endMs: Long)
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long)
  final case class Batch(run: String, batchId: Long, startMs: Long,
      durations: Map[String, Long], commitMs: Long, stateRows: Long)
}

/** Micro-batch progress of the streaming queries an operation starts. */
final class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._

  private val batches = ArrayBuffer.empty[Recorder.Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val durations = Seq("triggerExecution", "queryPlanning", "walCommit", "addBatch")
      .flatMap(k => Option(d.get(k)).map(v => k -> v.longValue)).toMap
    val ops = p.stateOperators
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    synchronized {
      batches += Recorder.Batch(p.runId.toString, p.batchId, startMs, durations,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum)
    }
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def drain(): Seq[Recorder.Batch] = synchronized {
    val out = batches.toList
    batches.clear()
    out
  }
}

/** Largest heap in use right after any garbage collection, read from the
  * JVM's GC notifications. */
final class HeapWatch {
  @volatile private var peak = 0L

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (after > peak) peak = after
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1e6
}
