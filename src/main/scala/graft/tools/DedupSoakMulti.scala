package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** MULTI-SESSION incremental-dedup soak (r10 verdict #5): the
  * operational story [[graft.stream.StreamingDedup.updateClusterStore]]
  * must hold in production — a corpus dedup store is appended to for
  * MONTHS across pipeline restarts, not within one JVM. The
  * single-session flush-cost claim is DEDUP_FLUSH.json; this probe
  * adds the restart axis with FAITHFUL Structured Streaming restart
  * semantics: a FILE source and ONE checkpoint shared by all
  * sessions, so each new session recovers the flatMapGroupsWithState
  * LSH-bucket state and resumes offsets exactly where the stopped
  * session left them (a fresh checkpoint would silently forget every
  * admitted signature — cross-session near-dups would never match).
  *
  *   - the corpus streams in across `sessions` SEPARATE SparkSessions
  *     (previous session stopped, process-level migration memo
  *     cleared — everything a new JVM loses), appending to the SAME
  *     store directory through the SAME checkpoint;
  *   - waves interleave across sessions (doc_id % sessions), so
  *     near-dup partners land in DIFFERENT sessions and later
  *     sessions bridge clusters built by earlier ones — the
  *     cross-restart merge path is exercised, not just appends;
  *   - per-flush wall time is recorded in every session; after each
  *     session the store is snapshotted: rows, bytes, file count
  *     (compaction cadence: dynamic overwrite + repartition(bucket)
  *     must keep files at O(buckets) forever), split histogram;
  *   - STABILITY INVARIANT: a doc whose cluster_rep is unchanged
  *     since the previous snapshot must keep its split (split is a
  *     pure function of the rep; a move without a merge is leakage
  *     corruption) — violations counted, must be zero;
  *   - END-TO-END TRUTH: the final store's (doc_id, cluster_rep)
  *     must equal the batch q_dedup_clusters resolution of the same
  *     corpus (itself DuckDB-oracle-checked at test scales), and the
  *     store's split must equal batch q_leakage_split's.
  *
  * Writes `DEDUP_SOAK_MULTI.json`. Usage:
  *   sbt "runMain graft.tools.DedupSoakMulti [sessions] [wavesPerSession] [waveSize]"
  * Defaults 5 / 4 / 2500 → 50k docs (10× the sf0.1 documents table)
  * across 5 simulated restarts on the RocksDB state store.
  */
object DedupSoakMulti {
  def main(args: Array[String]): Unit = {
    val sessions = args.headOption.map(_.toInt).getOrElse(5)
    val wavesPerSession = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val waveSize = args.drop(2).headOption.map(_.toInt).getOrElse(2500)
    val totalDocs = sessions * wavesPerSession * waveSize
    val root = Files.createTempDirectory("graft_soak_multi").toString
    val storeDir = s"$root/store"
    val incoming = s"$root/incoming"
    val ckpt = s"$root/ckpt" // ONE checkpoint across all sessions

    def newSession(): SparkSession = {
      val s = graft.Session("dedup-soak-multi")
      graft.stream.EngagementPipeline.useRocksDBStateStore(s)
      s
    }

    // corpus generated once, read back per session (sessions share
    // the disk, like restarts of one pipeline)
    {
      val s = newSession()
      CorpusGenerator.write(s, s"$root/corpus", totalDocs.toLong)
      new java.io.File(incoming).mkdirs()
    }

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    case class Flush(session: Int, batch: Long, verdicts: Long, sec: Double)
    val flushes = ArrayBuffer.empty[Flush]
    val sessionStats = ArrayBuffer.empty[String]
    var prev: Map[Long, (Long, String)] = Map.empty
    var violations = 0L
    var totalRepChanges = 0L

    (1 to sessions).foreach { si =>
      // SIMULATED RESTART: fresh session, cleared process memos; the
      // store, the source dir, and the CHECKPOINT persist on disk
      SparkSession.getActiveSession.foreach(_.stop())
      graft.stream.StreamingDedup.resetMigrationMemo()
      val spark = newSession()
      import spark.implicits._

      // interleaved slice: near-dup partners (generator plants them at
      // nearby ids) land in different sessions — later sessions must
      // match against state recovered from the checkpoint
      val docs = graft.io.Tables.documents(spark, s"$root/corpus")
        .filter($"doc_id" % sessions === (si - 1))
        .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)

      var currentSession = si
      def timedSink(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
        val rows = batch.count()
        val t0 = System.nanoTime()
        graft.stream.StreamingDedup.updateClusterStore(storeDir)(batch, batchId)
        val sec = (System.nanoTime() - t0) / 1e9
        if (rows > 0) {
          flushes += Flush(currentSession, batchId, rows, sec)
          println(f"s$currentSession flush $batchId%2d verdicts=$rows%-7d ${sec}%6.2f s")
        }
      }

      val stream = spark.readStream.schema(docSchema).parquet(incoming)
      val q = graft.stream.StreamingDedup.nearDupVerdicts(stream)
        .toDF().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(timedSink _)
        .start()
      try {
        q.processAllAvailable() // drain any files a crash left unprocessed
        docs.grouped(waveSize).zipWithIndex.foreach { case (wave, wi) =>
          // one new file per wave → one micro-batch per wave
          wave.toSeq.toDF("doc_id", "text").coalesce(1)
            .write.mode("append").parquet(incoming)
          q.processAllAvailable()
        }
      } finally q.stop()

      // end-of-session snapshot + stability check
      val snap = spark.read.parquet(storeDir)
        .select($"doc_id", $"cluster_rep", $"split")
        .as[(Long, Long, String)].collect()
        .map { case (d, r, sp) => d -> (r, sp) }.toMap
      val moved = prev.count { case (d, (r, sp)) =>
        snap.get(d).exists { case (r2, sp2) => r2 == r && sp2 != sp } }
      violations += moved
      val repChanged = prev.count { case (d, (r, _)) =>
        snap.get(d).exists(_._1 != r) }
      totalRepChanges += repChanged
      prev = snap

      val fs = new org.apache.hadoop.fs.Path(storeDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listFiles(new org.apache.hadoop.fs.Path(storeDir), true)
      var (nFiles, bytes) = (0L, 0L)
      while (files.hasNext) {
        val f = files.next()
        if (f.getPath.getName.endsWith(".parquet")) { nFiles += 1; bytes += f.getLen }
      }
      val splitCounts = snap.values.groupBy(_._2).view.mapValues(_.size).toMap
      val sMed = {
        val xs = flushes.filter(_.session == si).map(_.sec).sorted
        if (xs.isEmpty) 0.0 else xs(xs.size / 2)
      }
      sessionStats += (
        s"""{"session":$si,"store_rows":${snap.size},"store_bytes":$bytes,""" +
        s""""store_files":$nFiles,"median_flush_sec":${f"$sMed%.3f"},""" +
        s""""rep_changed_since_prev":$repChanged,"split_moved_rep_unchanged":$moved,""" +
        s""""splits":{${splitCounts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
      println(sessionStats.last)
    }

    // final truth: the multi-session store must equal the batch
    // resolution of the same corpus — clusters AND splits
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = newSession()
    import spark.implicits._
    val store = spark.read.parquet(storeDir)
      .select($"doc_id", $"cluster_rep", $"split")
      .as[(Long, Long, String)].collect()
    val storeRows = store.length.toLong
    val gotRep = store.map(r => r._1 -> r._2).toMap
    val gotSplit = store.map(r => r._1 -> r._3).toMap
    val wantRep = graft.SparkEntry.queries("q_dedup_clusters")(spark, s"$root/corpus")
      .select($"doc_id", $"cluster_rep").as[(Long, Long)].collect().toMap
    val wantSplit = graft.SparkEntry.queries("q_leakage_split")(spark, s"$root/corpus")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val repMismatch = wantRep.count { case (d, r) => gotRep.get(d) != Some(r) }
    val splitMismatch = wantSplit.count { case (d, s) => gotSplit.get(d) != Some(s) }

    assert(storeRows == totalDocs.toLong,
      s"store holds $storeRows docs, streamed $totalDocs")
    assert(violations == 0L,
      s"$violations docs changed split without a cluster-rep change")
    assert(repMismatch == 0,
      s"$repMismatch docs diverged from the batch cluster resolution")
    assert(splitMismatch == 0,
      s"$splitMismatch docs diverged from the batch leakage split")

    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val firstMed = median(flushes.filter(_.session == 1).map(_.sec).toSeq)
    val lastMed = median(flushes.filter(_.session == sessions).map(_.sec).toSeq)
    val perFlush = flushes.map(f =>
      s"""{"session":${f.session},"batch":${f.batch},"verdicts":${f.verdicts},"sec":${f"${f.sec}%.3f"}}""")
      .mkString(",")
    val json =
      s"""{"metric":"dedup_soak_multi","sessions":$sessions,""" +
        s""""waves_per_session":$wavesPerSession,"wave_size":$waveSize,""" +
        s""""total_docs":$totalDocs,"state_store":"rocksdb","store_rows":$storeRows,""" +
        s""""rep_changes_total":$totalRepChanges,""" +
        s""""split_moved_rep_unchanged_total":$violations,""" +
        s""""rep_mismatch_vs_batch":$repMismatch,"split_mismatch_vs_batch":$splitMismatch,""" +
        s""""first_session_median_flush_sec":${f"$firstMed%.3f"},""" +
        s""""last_session_median_flush_sec":${f"$lastMed%.3f"},""" +
        s""""growth_ratio":${f"${lastMed / math.max(firstMed, 1e-9)}%.2f"},""" +
        s""""session_stats":[${sessionStats.mkString(",")}],""" +
        s""""flushes":[$perFlush]}"""
    Files.writeString(Paths.get("DEDUP_SOAK_MULTI.json"), json)
    println(json)
    spark.stop()
  }
}
