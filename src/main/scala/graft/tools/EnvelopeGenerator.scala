package graft.tools

import java.nio.file.{Files, Paths}

/** Standalone reference-shaped data generator — the engine-side analog
  * of the reference's generator (generator/generate_data.py:18-128):
  * deterministic Debezium-style envelope JSON lines (`{"payload":
  * {..., "__op": ...}}`), produced at a configurable rate/batch size
  * into a file-drop directory that [[graft.stream.EngagementPipeline
  * .fileSource]] consumes. All fields derive from the event id, so any
  * run is reproducible and downstream counts are exactly predictable
  * (ids with `id % 19 == 0` carry op `u` and are dropped by the CDC
  * filter — the same fixture contract StreamSmoke and Soak use).
  *
  * Usage (standalone):
  *   sbt "runMain graft.tools.EnvelopeGenerator <outDir> <eventsPerSec> <seconds>"
  */
object EnvelopeGenerator {

  val ContentCardinality = 5000

  /** One envelope line, fully determined by the event id. */
  def envelope(id: Long): String = {
    val ct = s"content-${((id * 2654435761L) % ContentCardinality).toInt.abs}"
    val et = Seq("play", "pause", "finish", "click")((id % 4).toInt)
    val dur = if (et == "click") "null" else ((id % 600) * 100 + 1000).toString
    val op = if (id % 19 == 0) "u" else "c"
    val min = (id % 60).toInt
    s"""{"payload": {"id": $id, "content_id": "$ct", "user_id": "u$id", "event_type": "$et", "event_ts": "2024-01-01T00:${f"$min%02d"}:00Z", "duration_ms": $dur, "device": "ios", "raw_payload": "{}", "__op": "$op", "__table": "engagement_events", "__db": "streaming_db", "__ts_ms": 1704067200000}}"""
  }

  /** Number of ids in [0, n) that survive the CDC op filter. */
  def expectedKept(n: Long): Long = (0L until n).count(_ % 19 != 0)

  /** Write ids [from, from+count) as one JSONL drop file; returns the
    * next id. File name carries the id range so runs are resumable. */
  def writeBatch(dir: String, from: Long, count: Int): Long = {
    val sb = new StringBuilder(count * 260)
    var i = 0L
    while (i < count) { sb.append(envelope(from + i)).append('\n'); i += 1 }
    // write-then-rename so the file source never reads a partial file
    val tmp = Paths.get(s"$dir/.batch_${from}_$count.tmp")
    Files.write(tmp, sb.toString.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(s"$dir/batch_${from}_$count.jsonl"))
    from + count
  }

  /** The matching content dimension (same id space the envelopes hit). */
  def contentDim(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until ContentCardinality).map(i =>
      (s"content-$i", s"slug-$i", "t",
        Seq("video", "podcast", "article", "newsletter")(i % 4),
        if (i % 4 == 3) None else Some(600 + i % 3600),
        "2023-01-01T00:00:00Z"))
      .toDF("id", "slug", "title", "content_type", "length_seconds", "publish_ts")
  }

  /** Rate-controlled generation loop: `batchSize` events every
    * `intervalMs`, for `durationMs`; returns the next id. */
  def runStage(dir: String, startId: Long, intervalMs: Long, batchSize: Int,
      durationMs: Long): Long = {
    var id = startId
    val t0 = System.nanoTime()
    var nextDeadline = t0
    while ((System.nanoTime() - t0) / 1000000L < durationMs) {
      id = writeBatch(dir, id, batchSize)
      nextDeadline += intervalMs * 1000000L
      val sleepMs = (nextDeadline - System.nanoTime()) / 1000000L
      if (sleepMs > 0) Thread.sleep(sleepMs)
    }
    id
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val eps = args(1).toInt
    val seconds = args(2).toInt
    Files.createDirectories(Paths.get(dir))
    // 10 batches/sec at the requested rate (min batch 1)
    val batch = math.max(1, eps / 10)
    val intervalMs = math.max(1L, batch.toLong * 1000L / eps)
    val end = runStage(dir, 0L, intervalMs, batch, seconds * 1000L)
    println(s"""{"metric":"generated","events":$end,"events_per_sec_target":$eps,"seconds":$seconds}""")
  }
}
