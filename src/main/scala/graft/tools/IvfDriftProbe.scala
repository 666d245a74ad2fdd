package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Ivf

/** Centroid-drift artifact (r8 verdict item 6): a quantizer fitted on
  * yesterday's distribution serving a corpus that has since MOVED
  * degrades recall even when no cell is hot — `splitHotCells` watches
  * count skew, which is a different failure mode. This probe measures
  * the whole arc:
  *
  *   1. fit K cells on a base corpus, index it, capture the fit-time
  *      per-cell geometry baseline ([[Ivf.cellStats]]);
  *   2. a drifted batch arrives: same cluster structure, every cluster
  *      center SHIFTED by `delta` in a deterministic direction (the
  *      re-embedded/model-updated corpus case). The combined corpus is
  *      laid out against the PINNED quantizer — recall@10 at the
  *      operating nProbe drops;
  *   3. [[Ivf.driftReport]] flags the drifted cells (geometry ratio vs
  *      baseline, count-stable);
  *   4. [[Ivf.refitDriftedCells]] re-seeds ONLY those cells from their
  *      current members (O(drifted rows), untouched cells keep ids and
  *      layout) — recall recovers.
  *
  * Ground truth is the full-probe (nProbe = K) search, which scores
  * every cell — exact brute force through the index, independent of
  * centroid quality.
  *
  * Usage: sbt "runMain graft.tools.IvfDriftProbe [nBase] [nDrift] [outJson]"
  */
object IvfDriftProbe {
  def main(args: Array[String]): Unit = {
    val nBase = args.headOption.map(_.toInt).getOrElse(200000)
    val nDrift = args.lift(1).map(_.toInt).getOrElse(100000)
    val outJson = args.lift(2).getOrElse("IVF_DRIFT.json")
    // 128 clusters over 64 cells (each cell serves ~2 clusters — the
    // realistic regime; a 1:1 clusters:cells fit makes routing immune
    // to coherent shifts) and a PARTIAL drift: every 4th cluster
    // moves, the rest stay — so the monitor must separate moved mass
    // from stable mass, and the refit bill is O(drifted), not
    // O(corpus)
    val clusters = 128
    val dims = 64
    val bigK = 64
    val nProbe = 2
    val delta = 1.5
    val spark = graft.Session("graft-ivf-drift-probe")
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val tmp = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    val idx = s"$tmp/idx"

    val base = VectorGenerator.corpus(spark, nBase, clusters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()

    // the drifted batch: same generator, every cluster center shifted
    // by delta in a per-(cluster, dim) hash direction — deterministic,
    // so reruns are identical
    val shifts: Seq[Seq[Double]] = (0 until clusters).map { c =>
      (0 until dims).map { i =>
        if (c % 4 != 0) 0.0 // partial drift: only every 4th cluster moves
        else {
          val h = CorpusGenerator.mix64(c.toLong * dims + i + 424243L)
          delta * (((h >>> 11) * (1.0 / (1L << 53))) * 2 - 1)
        }
      }
    }
    // drifted clusters both MOVE (shift) and SPREAD (3× the original
    // within-cluster noise — the re-embedded/model-updated signature:
    // the new model separates the concept differently, so the mass
    // widens across the old Voronoi boundaries). Spread is what makes
    // recall actually bleed at small nProbe: a coherent shift moves a
    // neighborhood INTO some cell together, spread scatters it over
    // several.
    val spread = 3.0
    val centerLits: Seq[Seq[Double]] = (0 until clusters).map(c =>
      (0 until dims).map(i => VectorGenerator.center(c, i, dims)))
    val driftBatch = VectorGenerator.corpus(spark, nDrift, clusters)
      .select(($"vec_id" + nBase).as("vec_id"), $"label",
        zip_with(
          zip_with($"embedding", element_at(typedlit(centerLits), $"label" + 1),
            (x, c) => when(($"label" % 4) === 0,
              c + lit(spread) * (x.cast("double") - c))
              .otherwise(x.cast("double"))),
          element_at(typedlit(shifts), $"label" + 1),
          (x, s) => (x + s).cast("float")).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    driftBatch.count()

    // 1. fit + index + baseline on the base corpus
    val (centers, fitSec) = time(
      Ivf.fit(base, $"embedding", Seq($"vec_id"), k = bigK, iters = 3))
    Ivf.writeIndex(base, $"embedding", $"vec_id", centers, idx)
    val baseline = Ivf.cellStats(spark.read.parquet(idx), centers)
      .localCheckpoint(true)

    // recall@10 of the operating probe vs the full-probe ground truth,
    // over 64 queries drawn from the drifted batch (the traffic whose
    // neighbors the pinned quantizer mis-routes)
    val queries = driftBatch.filter($"label" % 4 === 0 &&
        $"vec_id" % lit(math.max(1, nDrift / 256)) === 0)
      .limit(64).select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .localCheckpoint(true)
    val nQ = queries.count()
    def recall(centersNow: Array[Array[Double]]): Double = {
      val truth = Ivf.searchBatch(spark, idx, centersNow, queries,
        nProbe = bigK, topK = 10, excludeSelf = true)
      val approx = Ivf.searchBatch(spark, idx, centersNow, queries,
        nProbe = nProbe, topK = 10, excludeSelf = true)
      val hits = truth.select($"q_id", $"vec_id")
        .join(approx.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
        .count()
      hits.toDouble / (nQ * 10)
    }

    // recall for BASE-drawn queries against the base-only index — the
    // healthy reference point
    val baseQueries = base.filter($"vec_id" % lit(math.max(1, nBase / 64)) === 0)
      .limit(64).select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .localCheckpoint(true)
    val truthB = Ivf.searchBatch(spark, idx, centers, baseQueries,
      nProbe = bigK, topK = 10, excludeSelf = true)
    val approxB = Ivf.searchBatch(spark, idx, centers, baseQueries,
      nProbe = nProbe, topK = 10, excludeSelf = true)
    val recallBase = truthB.select($"q_id", $"vec_id")
      .join(approxB.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
      .count().toDouble / (baseQueries.count() * 10)

    // 2. the drifted corpus lands under the pinned quantizer
    val combined = base.unionByName(driftBatch)
    Ivf.writeIndex(combined, $"embedding", $"vec_id", centers, idx)
    val (recallDrifted, _) = time(recall(centers))

    // 3. the monitor flags the drifted cells
    val report = Ivf.driftReport(spark.read.parquet(idx), centers, baseline)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDrifted = report.filter($"drift_ratio" >= 1.5 && $"n" >= 100).count()
    // max over MONITORED cells (n ≥ 100): a near-empty cell with ~zero
    // baseline variance produces an astronomically large but
    // meaningless ratio — exactly why refitDriftedCells gates on
    // minRows
    val maxRatio = report.filter($"n" >= 100)
      .agg(max($"drift_ratio")).as[Double].head()

    // 4. partial refit; recall recovers at O(drifted rows)
    val (updated, refitSec) = time(Ivf.refitDriftedCells(spark, idx, centers,
      baseline, driftFactor = 1.5, minRows = 100, iters = 5))
    val nRefit = updated.indices.count(j =>
      updated(j).toSeq != centers(j).toSeq)
    val (recallRefit, _) = time(recall(updated))

    // the O(corpus) ceiling for reference: full refit + full reindex
    val (fullCenters, fullFitSec) = time(
      Ivf.fit(combined, $"embedding", Seq($"vec_id"), k = bigK, iters = 3))
    val (_, fullIndexSec) = time(
      Ivf.writeIndex(combined, $"embedding", $"vec_id", fullCenters, idx))
    val (recallFull, _) = time(recall(fullCenters))

    val lost = recallBase - recallDrifted
    val recovered = recallRefit - recallDrifted
    println(f"[ivf-drift] base=$recallBase%.3f drifted=$recallDrifted%.3f " +
      f"refit=$recallRefit%.3f full=$recallFull%.3f " +
      f"cells_flagged=$nDrifted cells_refit=$nRefit " +
      f"recovered=${recovered / math.max(lost, 1e-9)}%.2f of loss " +
      f"fit=$fitSec%.1f s refit=$refitSec%.1f s full=${fullFitSec + fullIndexSec}%.1f s")
    require(recallDrifted < recallBase - 0.02,
      s"fixture too easy: drift did not degrade recall ($recallBase -> $recallDrifted)")
    require(nDrifted > 0, "monitor flagged nothing under real drift")
    require(recovered >= 0.25 * lost,
      s"refit must recover a real fraction of the drift loss " +
        s"(lost=$lost recovered=$recovered)")

    val json =
      f"""{"metric":"ivf_drift","n_base":$nBase,"n_drift":$nDrift,""" +
        f""""k":$bigK,"n_probe":$nProbe,"delta":$delta%.2f,"spread":$spread%.1f,""" +
        f""""recall_base":$recallBase%.4f,"recall_drifted":$recallDrifted%.4f,""" +
        f""""recall_refit":$recallRefit%.4f,"recall_full_refit":$recallFull%.4f,""" +
        f""""cells_flagged":$nDrifted,"cells_refit":$nRefit,""" +
        f""""max_drift_ratio":$maxRatio%.2f,"fit_sec":$fitSec%.2f,""" +
        f""""refit_sec":$refitSec%.2f,""" +
        f""""full_refit_sec":${fullFitSec + fullIndexSec}%.2f}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
