package graft.tools

import java.nio.file.{Files, Paths}
import graft.stream.{CdcReplay, EngagementPipeline, Snapshots}

/** CDC merge-on-read soak (VERDICT r4 "next round" #3): streams keyed
  * MUTATIONS (updates dominating, deletes sprinkled, monotone
  * `__ts_ms`) through [[CdcReplay.startLog]] with the policy-driven
  * compaction cadence wired in, and measures what the round-4 lane
  * left unmeasured under live append:
  *
  *   - log partition count over time (bounded, or growing?);
  *   - `currentState` read latency vs log length (flat, or linear in
  *     history?);
  *   - compaction wall per cycle (flat, or growing with table age?).
  *
  * Unlike [[EnvelopeGenerator]]'s append-only ids, ids here CYCLE over
  * a bounded key space, so the resolved table stays ≈`keySpace` rows
  * while the mutation history grows without bound — the exact shape
  * compaction exists for. Writes `CDC_SOAK.json`; done = bounded log +
  * flat read latency across ≥10 compaction cycles.
  *
  * Usage: sbt "runMain graft.tools.CdcSoakProbe [keySpace] [eps] [seconds] [compactEvery] [outJson]"
  */
object CdcSoakProbe {

  /** One mutation envelope: key = seq % keySpace, strictly increasing
    * `__ts_ms` (so LWW is exercised on the timestamp, not just the
    * batch tiebreak), op mix ≈ 1/29 delete, 1/7 insert, rest update. */
  def mutation(seq: Long, keySpace: Int): String = {
    val id = seq % keySpace
    val ct = s"content-${((id * 2654435761L) % EnvelopeGenerator.ContentCardinality).toInt.abs}"
    val et = Seq("play", "pause", "finish", "click")((seq % 4).toInt)
    val dur = if (et == "click") "null" else ((seq % 600) * 100 + 1000).toString
    val op = if (seq % 29 == 0) "d" else if (seq % 7 == 0) "c" else "u"
    val min = (seq % 60).toInt
    s"""{"payload": {"id": $id, "content_id": "$ct", "user_id": "u$id", "event_type": "$et", "event_ts": "2024-01-01T00:${f"$min%02d"}:00Z", "duration_ms": $dur, "device": "ios", "raw_payload": "{}", "__op": "$op", "__table": "engagement_events", "__db": "streaming_db", "__ts_ms": ${1704067200000L + seq}}}"""
  }

  def writeBatch(dir: String, from: Long, count: Int, keySpace: Int): Long = {
    val sb = new StringBuilder(count * 280)
    var i = 0L
    while (i < count) { sb.append(mutation(from + i, keySpace)).append('\n'); i += 1 }
    val tmp = Paths.get(s"$dir/.batch_${from}_$count.tmp")
    Files.write(tmp, sb.toString.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(s"$dir/batch_${from}_$count.jsonl"))
    from + count
  }

  def main(args: Array[String]): Unit = {
    val keySpace = args.lift(0).map(_.toInt).getOrElse(20000)
    val eps = args.lift(1).map(_.toInt).getOrElse(4000)
    val seconds = args.lift(2).map(_.toInt).getOrElse(150)
    val compactEvery = args.lift(3).map(_.toInt).getOrElse(3)
    val outJson = args.lift(4).getOrElse("CDC_SOAK.json")
    val base = sys.env.getOrElse("CDC_SOAK_DIR", "/tmp/cdc_soak")

    // fresh dirs every run (checkpoint↔log pairing is enforced)
    val baseDir = new java.io.File(base)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (baseDir.exists()) rm(baseDir)
    val drop = s"$base/drop"; val log = s"$base/log"
    val state = s"$base/state"; val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(drop))

    val spark = graft.Session("cdc-soak-probe",
      "spark.sql.streaming.fileSource.log.compactInterval" -> "20")

    val compactions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val raw = EngagementPipeline.fileSource(spark, drop)
    val muts = CdcReplay.transformCdc(raw, EnvelopeGenerator.contentDim(spark))
    val query = CdcReplay.startLog(muts, log, ckpt,
      triggerMs = 500L, stateDir = Some(state),
      compactEvery = Some(compactEvery),
      tombstoneRetainMs = Some(3600L * 1000L),
      onCompact = (v, s) => { compactions.add((v, s)); () })

    // generator thread: `eps` mutations/sec in 10 batches/sec
    @volatile var stop = false
    @volatile var written = 0L
    val gen = new Thread(() => {
      var id = 0L
      val batch = math.max(1, eps / 10)
      val intervalNs = batch.toLong * 1000000000L / eps
      var deadline = System.nanoTime()
      while (!stop) {
        id = writeBatch(drop, id, batch, keySpace)
        written = id
        deadline += intervalNs
        val sleepMs = (deadline - System.nanoTime()) / 1000000L
        if (sleepMs > 0) Thread.sleep(sleepMs)
      }
    }, "cdc-soak-generator")
    gen.setDaemon(true)
    gen.start()

    // poller: every ~2 s read the merged state and record the costs
    val samples = scala.collection.mutable.ArrayBuffer[String]()
    var readRetries = 0
    val t0 = System.nanoTime()
    val logPath = new org.apache.hadoop.fs.Path(log)
    val fs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      Thread.sleep(2000)
      val tR = System.nanoTime()
      // reader contract (CdcReplay.currentState scaladoc): a reader
      // racing a compaction prune re-resolves and retries — the same
      // snapshot-isolation-conflict retry Delta/Hudi readers use. The
      // retry count is recorded; it measures how often the race fires
      // at this (deliberately aggressive) compaction cadence.
      def readOnce(): Long =
        CdcReplay.currentState(spark, log, Some(state)).count()
      val rows =
        try readOnce()
        catch {
          case scala.util.control.NonFatal(_) =>
            readRetries += 1
            try readOnce()
            catch { case scala.util.control.NonFatal(e) =>
              println(s"[cdc-soak] read failed twice: " +
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
              -1L }
        }
      val readSec = (System.nanoTime() - tR) / 1e9
      val logParts =
        if (!fs.exists(logPath)) 0
        else fs.listStatus(logPath).count(st =>
          st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      val snapVer = Snapshots.resolve(spark, state).getOrElse(-1L)
      val elapsed = (System.nanoTime() - t0) / 1e9
      println(f"[cdc-soak] t=$elapsed%5.0f s written=$written rows=$rows " +
        f"read=$readSec%5.2f s logParts=$logParts snapVer=$snapVer " +
        f"compactions=${compactions.size()}")
      samples += s"""{"t_sec":${f"$elapsed%.1f"},"written":$written,""" +
        s""""state_rows":$rows,"read_sec":${f"$readSec%.3f"},""" +
        s""""log_partitions":$logParts,"snapshot_version":$snapVer,""" +
        s""""compactions":${compactions.size()}}"""
    }
    stop = true
    query.stop()
    query.awaitTermination(30000)

    val cycles = compactions.size()
    val compactJson = {
      val it = compactions.iterator()
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val (v, s) = it.next()
        buf += s"""{"version":$v,"sec":${f"$s%.3f"}}"""
      }
      buf.mkString(",")
    }
    // flatness judgments: compare medians of first vs last third
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0
      else { val s = xs.sorted; s(s.size / 2) }
    val reads = samples.map(_.split(""""read_sec":""")(1).split(",")(0).toDouble).toSeq
    val third = math.max(1, reads.size / 3)
    val readGrowth =
      if (reads.size < 6) -1.0
      else median(reads.takeRight(third)) / math.max(1e-9, median(reads.take(third)))
    val json = s"""{"metric":"cdc_soak","key_space":$keySpace,"eps":$eps,""" +
      s""""seconds":$seconds,"compact_every":$compactEvery,""" +
      s""""mutations_written":$written,"compaction_cycles":$cycles,""" +
      s""""read_retries":$readRetries,""" +
      s""""read_latency_growth_ratio":${f"$readGrowth%.3f"},""" +
      s""""compactions":[$compactJson],"samples":[${samples.mkString(",")}]}"""
    Files.writeString(Paths.get(outJson), json)
    println(json.take(400) + " ...")
    spark.stop()
  }
}
