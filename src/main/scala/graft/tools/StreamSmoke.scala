package graft.tools

import java.nio.file.{Files, Paths}

/** Runtime smoke for the streaming pipeline: writes Debezium-envelope
  * JSON lines to a drop directory, runs the file-source pipeline with
  * the three-way fan-out, and prints sink row counts. Usage:
  * `sbt "runMain graft.tools.StreamSmoke"` — expect warehouse=N>0,
  * search partitioned by event_date, analytics top-K rows. */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session("graft-stream-smoke")
    import spark.implicits._

    val root = Files.createTempDirectory("graft_stream_smoke").toString
    val dropDir = s"$root/drop"
    Files.createDirectories(Paths.get(dropDir))

    // 200 envelope lines: 4 event types, 2 content ids + a dim miss,
    // update/delete ops sprinkled in (must be dropped by T2)
    val lines = (1 to 200).map { i =>
      val ct = Seq("c1", "c2", "cMISS")(i % 3)
      val et = Seq("play", "pause", "finish", "click")(i % 4)
      val dur = if (et == "click") "null" else ((i % 60) * 1000 + 1000).toString
      val op = if (i % 17 == 0) "u" else "c"
      f"""{"payload": {"id": $i, "content_id": "$ct", "user_id": "u$i", "event_type": "$et", "event_ts": "2024-01-01T00:${i % 30}%02d:00Z", "duration_ms": $dur, "device": "ios", "raw_payload": "{}", "__op": "$op", "__table": "engagement_events", "__db": "streaming_db", "__ts_ms": 1704067200000}}"""
    }
    Files.write(Paths.get(s"$dropDir/batch1.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))

    val contentDim = Seq(
      ("c1", "s1", "t", "video", Some(600), "2023-01-01T00:00:00Z"),
      ("c2", "s2", "t", "podcast", Some(1200), "2023-01-01T00:00:00Z")
    ).toDF("id", "slug", "title", "content_type", "length_seconds", "publish_ts")

    val raw = graft.stream.EngagementPipeline.fileSource(spark, dropDir)
    val q = graft.stream.EngagementPipeline.start(
      raw, contentDim, root, s"$root/ckpt", triggerMs = 200L)
    q.processAllAvailable()
    q.stop()

    val wh = spark.read.parquet(s"$root/warehouse")
    val search = spark.read.parquet(s"$root/search")
    val topk = graft.stream.Snapshots.read(spark, s"$root/analytics")
    val expected = lines.count(!_.contains("\"__op\": \"u\""))
    println(s"warehouse=${wh.count()} (expected $expected after op-filter)")
    println(s"search=${search.count()} partitions_by_date=${search.select("event_date").distinct().count()}")
    println("analytics top-K:")
    topk.show(truncate = false)
    assert(wh.count() == expected, "warehouse count mismatch")
    assert(topk.count() > 0, "no top-K rows")
    println("STREAM SMOKE OK")
    spark.stop()
  }
}
