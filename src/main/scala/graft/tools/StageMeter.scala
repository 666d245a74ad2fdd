package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.shims

/** Driver-side task-metric totals for the scale probes (metrics only,
  * no data): task and failed-task counts, the longest task, spill,
  * shuffle-write and input bytes, summed over task-end events since
  * the last [[reset]].
  *
  * Task-end events are delivered asynchronously, so a probe reads the
  * totals after [[drain]]: without it the final straggler task — the
  * number a skew probe exists to record — can still be in flight.
  *
  * Usage: `val meter = StageMeter.install(spark)`, then per measured
  * step `meter.reset(); <action>; meter.drain()` and read the fields. */
final class StageMeter private (spark: SparkSession) extends SparkListener {
  @volatile var tasks = 0
  @volatile var failedTasks = 0
  @volatile var maxTaskMs = 0L
  @volatile var spillBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var inputBytes = 0L

  /** Block until every event posted so far has been delivered. */
  def drain(): Unit = shims.drainListenerBus(spark)

  /** Drain, then zero the totals. The zeroing holds the same lock as
    * [[onTaskEnd]], so a straggler from earlier work cannot resurrect
    * pre-reset counts into the new sample. */
  def reset(): Unit = {
    drain()
    synchronized {
      tasks = 0; failedTasks = 0; maxTaskMs = 0
      spillBytes = 0; shuffleWriteBytes = 0; inputBytes = 0
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!te.reason.toString.startsWith("Success")) failedTasks += 1
    val m = te.taskMetrics
    if (m != null) {
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
      maxTaskMs = math.max(maxTaskMs, te.taskInfo.duration)
    }
  }
}

object StageMeter {
  def install(spark: SparkSession): StageMeter = {
    val meter = new StageMeter(spark)
    spark.sparkContext.addSparkListener(meter)
    meter
  }
}
