package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Engine counters at one instant; `-` gives the work between two. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill)
}

/** Engine layer meter: job/stage/task counts, task run and CPU time, GC,
  * shuffle and spill bytes, stage-busy intervals, and jobs per streaming
  * query (Spark tags a micro-batch's jobs with its query id). */
final class EngineMeter extends SparkListener {
  private var cur = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobsByQuery = mutable.Map.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur = cur.copy(jobs = cur.jobs + 1)
    Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .foreach(q => jobsByQuery(q) = jobsByQuery.getOrElse(q, 0L) + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur = cur.copy(stages = cur.stages + 1)
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    cur = if (m == null) cur.copy(tasks = cur.tasks + 1) else cur.copy(
      tasks = cur.tasks + 1,
      runMs = cur.runMs + m.executorRunTime,
      cpuNs = cur.cpuNs + m.executorCpuTime,
      gcMs = cur.gcMs + m.jvmGCTime,
      shuffleRead = cur.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = cur.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = cur.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def snap(spark: SparkSession): Snap = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized(cur)
  }

  def jobsOf(queryId: String): Long = synchronized(jobsByQuery.getOrElse(queryId, 0L))

  /** Milliseconds of [from, to) during which at least one stage ran. */
  def stageBusyMs(from: Long, to: Long): Long = {
    val spans = synchronized(stageSpans.toList)
      .map { case (s, c) => (math.max(s, from), math.min(c, to)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    spans.foreach { case (s, c) =>
      if (s >= end) { busy += c - s; end = c }
      else if (c > end) { busy += c - end; end = c }
    }
    busy
  }

  /** The engine.* metrics for work `d` done in `wallMs` of timed wall,
    * `busyMs` of which had a stage running. */
  def report(d: Snap, wallMs: Double, busyMs: Double, cores: Int, planS: Double)
      : Seq[(String, Double)] =
    Seq(
      "engine.jobs" -> d.jobs.toDouble,
      "engine.stages" -> d.stages.toDouble,
      "engine.tasks" -> d.tasks.toDouble,
      "engine.task_run_s" -> d.runMs / 1e3,
      "engine.task_cpu_s" -> d.cpuNs / 1e9,
      "engine.gc_s" -> d.gcMs / 1e3,
      "engine.shuffle_read_bytes" -> d.shuffleRead.toDouble,
      "engine.shuffle_write_bytes" -> d.shuffleWrite.toDouble,
      "engine.spill_bytes" -> d.spill.toDouble,
      "engine.plan_s" -> planS,
      "engine.core_busy_share" -> d.runMs / (wallMs * cores),
      "engine.no_stage_share" -> (1.0 - busyMs / wallMs))
}

/** Streaming layer meter: every progress report of every query. */
final class StreamMeter extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)

  /** Progress of the query's triggers that read input and started at or
    * after `fromMs`. */
  def triggers(queryId: java.util.UUID, fromMs: Long): Seq[StreamingQueryProgress] =
    synchronized(progress.toList).filter { p =>
      p.id == queryId && p.numInputRows > 0 &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= fromMs
    }
}

/** The program's peak live heap: the largest heap occupancy right after
  * a full collection. The benchmark forces one between batch queries
  * (as graft.Bench does) and one at the end of every run, so this is the
  * most the program kept live at those points: state, memos, caches and
  * broadcast data. It does not depend on the heap size while it stays
  * below it, unlike the resident set or the occupancy after a young
  * collection (which counts garbage not yet collected). */
object HeapMeter {
  private var peak = 0L
  private var fullGcs = 0L
  private def collections: Long = synchronized(fullGcs)

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction == "end of major GC") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
            HeapMeter.synchronized { peak = math.max(peak, used); fullGcs += 1 }
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Peak so far in MB, after a full collection now. Notifications
    * arrive asynchronously, so this waits (up to 2 s) for that one's. */
  def peakMb(): Double = {
    val seen = collections
    System.gc()
    val deadline = System.currentTimeMillis() + 2000
    while (collections == seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
    val bytes: Long = synchronized(peak)
    bytes / 1048576.0
  }
}
