package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.stream.{EngagementPipeline, Snapshots}

/** The streaming workloads. The load generator (run.py) writes drop
  * files; this side starts the pipeline's queries on the drop dir, runs
  * the monitor reader, and waits for the drain. Latency is read by
  * run.py afterwards from the sinks and the checkpoints' commit logs. */
object Streams {

  /** Wall-clock spans of timed calls (start epoch ms, duration ms). */
  final class Timer {
    val spans = mutable.ArrayBuffer.empty[(Long, Double)]
    def apply[A](f: => A): A = {
      val w = System.currentTimeMillis()
      val t = System.nanoTime()
      try f finally synchronized(spans += ((w, (System.nanoTime() - t) / 1e6)))
    }
    def since(fromMs: Long): Seq[Double] = synchronized(spans.toList).collect {
      case (w, d) if w >= fromMs => d
    }
  }

  /** The content dimension, loaded once into memory as the reference
    * loads its JDBC snapshot into an in-JVM cache. */
  private def loadDim(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    spark.createDataFrame(df.collectAsList(), df.schema)
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  /** Trigger phases of a query's data triggers since `fromMs`, as mean
    * ms per trigger, plus the self-check gap: the largest share by which
    * a trigger's phases miss its triggerExecution time. */
  private def phases(meter: StreamMeter, q: StreamingQuery, fromMs: Long,
      prefix: String, names: Seq[String], out: Out): Int = {
    val ts = meter.triggers(q.id, fromMs)
    val all = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets")
    names.foreach { n =>
      out(s"$prefix.trigger.${n}_ms") =
        if (ts.isEmpty) 0.0
        else ts.map(p => p.durationMs.asScala.get(n).map(_.toDouble).getOrElse(0.0)).sum / ts.size
    }
    val gaps = ts.map { p =>
      val d = p.durationMs.asScala.view.mapValues(_.toDouble).toMap
      val total = d.getOrElse("triggerExecution", 0.0)
      if (total <= 0) 0.0 else math.abs(1.0 - all.map(d.getOrElse(_, 0.0)).sum / total)
    }
    out(s"trace.$prefix.trigger_phase_gap") = gaps.maxOption.getOrElse(0.0)
    ts.size
  }

  /** stream_steady: fan-out and sliding analytics on one drop dir while
    * the generator writes at a fixed rate, and a monitor reader polling
    * once a second (`reconcile` + the top-K snapshot). */
  def steady(spark: SparkSession, work: String, cores: Int, traced: Boolean,
      out: Out): Unit = {
    val dim = loadDim(spark, s"$work/content_dim.parquet")
    val drop = s"$work/drop"
    val root = s"$work/out"
    val (wh, se) = (s"$root/warehouse", s"$root/search")
    val engine = if (traced) Some(new EngineMeter) else None
    val streams = if (traced) Some(new StreamMeter) else None
    engine.foreach(spark.sparkContext.addSparkListener)
    streams.foreach(spark.streams.addListener)
    val fan = EngagementPipeline.start(EngagementPipeline.fileSource(spark, drop), dim, root,
      s"$work/ckpt_fanout", triggerMs = 1000L)
    val slide = EngagementPipeline.startSlidingAnalytics(
      EngagementPipeline.fileSource(spark, drop), dim, root, s"$work/ckpt_sliding")
    def drain(): Unit = { fan.processAllAvailable(); slide.processAllAvailable() }
    val reconcileT, snapshotT = new Timer

    // warm-up: the generator's warm-up drops are in the drop dir already
    drain()
    reconcileT(EngagementPipeline.reconcile(spark, wh, se).collect())
    snapshotT(Snapshots.read(spark, s"$root/topk").collect())

    val start = System.currentTimeMillis()
    val before = engine.map(_.snap(spark))
    val jobsBefore = engine.map(m => (m.jobsOf(fan.id.toString), m.jobsOf(slide.id.toString)))
    out("timed_start_ms") = start.toDouble
    Main.touch(s"$work/ready", start.toString)

    // monitor reader: one poll a second (monitor.py's cadence) until the
    // generator is done; a poll that overruns its second delays the next
    val stop = Paths.get(s"$work/stop")
    var failedReads = 0
    var next = start + 1000L
    while (!Files.exists(stop)) {
      if (System.currentTimeMillis() >= next) {
        next += 1000L
        try {
          reconcileT(EngagementPipeline.reconcile(spark, wh, se).collect())
          snapshotT(Snapshots.read(spark, s"$root/topk").collect())
        } catch { case NonFatal(e) =>
          failedReads += 1
          System.err.println(s"[perfbench] monitor read failed: $e")
        }
      } else Thread.sleep(5)
    }
    drain()
    val end = System.currentTimeMillis()
    out("drain_done_ms") = end.toDouble
    out("peak_heap_mb") = HeapMeter.peakMb()
    val rec = EngagementPipeline.reconcile(spark, wh, se).collect()
    out("reconcile_lag") = rec.map(_.getAs[Long]("lag_vs_warehouse").abs).sum.toDouble
    out("monitor_reads") = reconcileT.since(start).size.toDouble
    out("monitor_failed_reads") = failedReads.toDouble
    out.lists("monitor_read_ms") = reconcileT.since(start).zip(snapshotT.since(start))
      .map { case (a, b) => a + b }
    out("monitor.reconcile_ms") = median(reconcileT.since(start))
    out("monitor.snapshot_read_ms") = median(snapshotT.since(start))

    for (m <- engine; sm <- streams; t0 <- before; (fj, sj) <- jobsBefore) {
      val d = m.snap(spark) - t0
      out ++= m.report(d, (end - start).toDouble, m.stageBusyMs(start, end).toDouble,
        cores, 0.0)
      val fanTriggers = sm.triggers(fan.id, start)
      val slideTriggers = sm.triggers(slide.id, start)
      out("engine.plan_s") = (fanTriggers ++ slideTriggers)
        .map(_.durationMs.asScala.get("queryPlanning").map(_.toDouble).getOrElse(0.0)).sum / 1e3
      val nf = phases(sm, fan, start, "fanout", Seq("latestOffset", "getBatch",
        "queryPlanning", "addBatch", "walCommit", "commitOffsets"), out)
      val ns = phases(sm, slide, start, "sliding", Seq("queryPlanning", "addBatch",
        "walCommit"), out)
      batchStats(fanTriggers, "fanout", out)
      batchStats(slideTriggers, "sliding", out)
      out("fanout.jobs_per_batch") = (m.jobsOf(fan.id.toString) - fj).toDouble / math.max(1, nf)
      out("sliding.jobs_per_batch") = (m.jobsOf(slide.id.toString) - sj).toDouble / math.max(1, ns)
      out("fanout.rows_per_batch") =
        fanTriggers.map(_.numInputRows.toDouble).sum / math.max(1, nf)
      val lastState = sm.triggers(slide.id, start).lastOption
        .flatMap(_.stateOperators.headOption)
      out("sliding.state_rows") = lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      out("sliding.state_bytes") = lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    }
    fan.stop()
    slide.stop()
  }

  /** Time in the foreachBatch function (`fanOutBatch` or
    * `slidingAnalyticsBatch`) per trigger: a foreachBatch sink's
    * `addBatch` phase is exactly that call. */
  private def batchStats(ts: Seq[StreamingQueryProgress], prefix: String, out: Out): Unit = {
    val ms = ts.map(_.durationMs.asScala.get("addBatch").map(_.toDouble).getOrElse(0.0))
    out(s"$prefix.batch_ms_p50") = percentile(ms, 0.5)
    out(s"$prefix.batch_ms_p90") = percentile(ms, 0.9)
  }

  /** Both queries drain `<work>/drop`, then one monitor read: the
    * streaming paths, for the class-data-sharing training run. */
  def train(spark: SparkSession, work: String): Unit = {
    val dim = loadDim(spark, s"$work/content_dim.parquet")
    val root = s"$work/out"
    val qs = Seq(
      EngagementPipeline.start(EngagementPipeline.fileSource(spark, s"$work/drop"), dim, root,
        s"$work/ckpt_fanout", triggerMs = 1000L),
      EngagementPipeline.startSlidingAnalytics(EngagementPipeline.fileSource(spark, s"$work/drop"),
        dim, root, s"$work/ckpt_sliding"))
    qs.foreach(_.processAllAvailable())
    EngagementPipeline.reconcile(spark, s"$root/warehouse", s"$root/search").collect()
    Snapshots.read(spark, s"$root/topk").collect()
    qs.foreach(_.stop())
  }

  /** Capacity figures in a warm JVM: the fan-out drains the pre-written
    * `<work>/backlog` alone (`fanout.drain_eps`), then the row layers run
    * as plain batch jobs over the same lines (`parse.rows_per_s`,
    * `transform.rows_per_s`). */
  def capacity(spark: SparkSession, work: String, events: Long, out: Out): Unit = {
    val dim = loadDim(spark, s"$work/content_dim.parquet")
    val t = System.nanoTime()
    val q = EngagementPipeline.start(EngagementPipeline.fileSource(spark, s"$work/backlog"),
      dim, s"$work/cap_out", s"$work/cap_ckpt")
    q.processAllAvailable()
    out("fanout.drain_eps") = events / ((System.nanoTime() - t) / 1e9)
    q.stop()
    val raw = spark.read.text(s"$work/backlog")
    def rate(df: DataFrame): Double = {
      val t = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      rows / ((System.nanoTime() - t) / 1e9)
    }
    out("parse.rows_per_s") = rate(graft.ops.Transforms.parseEnvelope(raw))
    out("transform.rows_per_s") = rate(EngagementPipeline.transform(raw, dim))
  }

  /** The single-thread capacity baseline: a drain of `<work>/local1` on
    * a local[1] session, in this (already warm) JVM. Stops `spark`. */
  def drainLocal1(spark: SparkSession, work: String, events: Long, out: Out): Unit = {
    spark.stop()
    val one = Main.session(1, work)
    val dim = loadDim(one, s"$work/content_dim.parquet")
    val t = System.nanoTime()
    val q = EngagementPipeline.start(EngagementPipeline.fileSource(one, s"$work/local1"),
      dim, s"$work/local1_out", s"$work/local1_ckpt")
    q.processAllAvailable()
    out("engine.drain_eps_local1") = events / ((System.nanoTime() - t) / 1e9)
    q.stop()
  }
}
