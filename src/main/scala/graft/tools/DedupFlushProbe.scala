package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Flush-cost measurement for the incremental cluster store (VERDICT r3
  * "next round" #6): streams a [[CorpusGenerator]] corpus through
  * [[graft.stream.StreamingDedup.nearDupVerdicts]] →
  * `updateClusterStore` in fixed-size waves and records the wall time
  * of EVERY store flush as the corpus grows from empty to `totalDocs`.
  *
  * The claim under test: per-flush cost is O(batch + touched
  * components), not O(corpus) — so with a constant wave size, flush
  * latency must stay ~flat while the store grows 10–20×. The one
  * corpus-proportional term that remains by design is the skinny
  * (doc_id, cluster_rep) store scan feeding the touched-component
  * semi-join (a column-pruned parquet read, no wide shuffle); the
  * probe's first/last-quartile medians make its slope visible instead
  * of asserted away.
  *
  * Writes `DEDUP_FLUSH.json`. Usage:
  *   sbt "runMain graft.tools.DedupFlushProbe [totalDocs] [waveSize]"
  * Defaults 50000 / 2500 → 20 flushes over a corpus growing to 10×
  * the sf0.1 documents table, on the RocksDB state store (the
  * documented production setting for dedup state).
  */
object DedupFlushProbe {
  def main(args: Array[String]): Unit = {
    val totalDocs = args.headOption.map(_.toInt).getOrElse(50000)
    val waveSize = args.drop(1).headOption.map(_.toInt).getOrElse(2500)
    val root = Files.createTempDirectory("graft_flush_probe").toString

    val spark = graft.Session("dedup-flush-probe")
    graft.stream.EngagementPipeline.useRocksDBStateStore(spark)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    CorpusGenerator.write(spark, s"$root/corpus", totalDocs.toLong)
    val docs = graft.io.Tables.documents(spark, s"$root/corpus")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)

    val flushes = ArrayBuffer.empty[(Long, Long, Long, Double)]
    var corpusSoFar = 0L
    def timedSink(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val rows = batch.count()
      val t0 = System.nanoTime()
      graft.stream.StreamingDedup.updateClusterStore(s"$root/store")(batch, batchId)
      val sec = (System.nanoTime() - t0) / 1e9
      if (rows > 0) {
        flushes += ((batchId, corpusSoFar, rows, sec))
        println(f"flush $batchId%2d  corpus_before=$corpusSoFar%-7d verdicts=$rows%-7d ${sec}%6.2f s")
      }
    }

    val input = MemoryStream[(Long, String)]
    val q = graft.stream.StreamingDedup.nearDupVerdicts(
        input.toDF().toDF("doc_id", "text"))
      .toDF().writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(timedSink _)
      .start()
    try {
      docs.grouped(waveSize).foreach { wave =>
        input.addData(wave.toSeq)
        q.processAllAvailable()
        corpusSoFar += wave.length
      }
    } finally q.stop()

    val storeRows = spark.read.parquet(s"$root/store").count()
    assert(storeRows == totalDocs.toLong,
      s"store holds $storeRows docs, streamed $totalDocs")

    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val times = flushes.map(_._4).toSeq
    val quart = math.max(1, times.size / 4)
    val (firstQ, lastQ) = (median(times.take(quart)), median(times.takeRight(quart)))
    val perFlush = flushes.map { case (b, c, r, s) =>
      s"""{"batch":$b,"corpus_before":$c,"verdicts":$r,"sec":${f"$s%.3f"}}"""
    }.mkString(",")
    val json =
      s"""{"metric":"dedup_flush","total_docs":$totalDocs,"wave_size":$waveSize,""" +
        s""""state_store":"rocksdb","store_rows":$storeRows,""" +
        s""""first_quartile_median_sec":${f"$firstQ%.3f"},""" +
        s""""last_quartile_median_sec":${f"$lastQ%.3f"},""" +
        s""""growth_ratio":${f"${lastQ / math.max(firstQ, 1e-9)}%.2f"},""" +
        s""""flushes":[$perFlush]}"""
    Files.writeString(Paths.get("DEDUP_FLUSH.json"), json)
    println(json)
    spark.stop()
  }
}
