package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The always-on listener: executor CPU summed over every finished task.
  * It is the only listener of an untraced run.
  */
final class CpuListener extends SparkListener {
  @volatile var cpuNs: Long = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs += e.taskMetrics.executorCpuTime
}

/** One Spark job as the traced run sees it, with its tasks' metrics. */
final class JobRec(val id: Int, val startMs: Long, val tags: Set[String], val listed: Int) {
  var endMs: Long = -1L
  var stagesRun = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var result = 0L
  var read = 0L
  var written = 0L
}

/** Job, stage and task events of a traced run. A stage's tasks count
  * toward the latest job that lists the stage, which is the job that
  * submitted it: the client is a single thread in a closed loop.
  */
final class TraceListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val j = new JobRec(e.jobId, e.time, tags, e.stageIds.size)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.result += m.resultSize
      j.read += m.inputMetrics.bytesRead
      j.written += m.outputMetrics.bytesWritten
    }
  }
}

/** Micro-batch progress of every streaming query of a traced run. */
final class StreamListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += Map(
      "query" -> p.name,
      "batch" -> p.batchId,
      "end_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
  }
}

/** Heap in use right after each garbage collection, summed over the
  * heap pools; `peakMiB` is the largest such reading since `reset()`.
  */
final class HeapWatch extends NotificationListener {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMiB: Double = peak / 1048576.0
}

/** A span around one public call, or around a whole pass. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    pass: Int, startMs: Long, endMs: Long, startNs: Long, endNs: Long, failed: Boolean)

/** Records spans in memory; in a traced run each span also tags the
  * Spark jobs it submits (`graftbench-span-<id>`).
  */
final class Tracer(sc: SparkContext, traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def tag(id: Int): String = s"graftbench-span-$id"

  /** Runs `body` inside a span; returns the result or the failure. */
  def span[A](name: String, layer: String, parent: Int, pass: Int)(body: Int => A): (Span, Either[Throwable, A]) = {
    val id = nextId
    nextId += 1
    if (traced) sc.addJobTag(tag(id))
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    val r = try Right(body(id)) catch { case t: Throwable => Left(t) }
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    if (traced) sc.removeJobTag(tag(id))
    val s = Span(id, parent, name, layer, pass, startMs, endMs, startNs, endNs, r.isLeft)
    spans += s
    (s, r)
  }
}
