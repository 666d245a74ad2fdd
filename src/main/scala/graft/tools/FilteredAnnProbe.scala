package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Ivf

/** Filtered-ANN selectivity sweep (r8 verdict item 4): how does the
  * predicate-inside-the-index-scan search behave as the predicate
  * gets selective, and what does the escalating-nProbe path
  * ([[Ivf.searchBatchAdaptive]]) buy?
  *
  * The failure mode being measured: at fixed nProbe, the probed cells
  * hold `selectivity × cell population` predicate-satisfying rows in
  * expectation — once that dips below topK, the result set silently
  * shrinks. Post-filtering would be even worse (it also loses recall
  * among the rows it does return — IvfSpec pins that separately);
  * escalation restores cardinality at the cost of re-probing only the
  * undershooting queries.
  *
  * Sweep: selectivity ∈ {10%, 1%, 0.1%} × nProbe ∈ {2, 4, 8} over a
  * 300k-vector clustered corpus, 32 queries, topK 10. Per point:
  * fixed-probe fill rate (avg rows / topK), adaptive fill rate,
  * adaptive recall@10 vs the full-probe ground truth UNDER the same
  * predicate, and both walls.
  *
  * Usage: sbt "runMain graft.tools.FilteredAnnProbe [n] [outJson]"
  */
object FilteredAnnProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(300000)
    val outJson = args.lift(1).getOrElse("VEC_FILTERED.json")
    val clusters = 64
    val bigK = 64
    val topK = 10
    val spark = graft.Session("graft-filtered-ann-probe")
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val tmp = java.nio.file.Files.createTempDirectory("ann_filter").toString
    val idx = s"$tmp/idx"
    val corpus = VectorGenerator.corpus(spark, n, clusters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val centers = Ivf.fit(corpus, $"embedding", Seq($"vec_id"), k = bigK, iters = 3)
    Ivf.writeIndex(corpus, $"embedding", $"vec_id", centers, idx)

    val queries = corpus.filter($"vec_id" % lit(math.max(1, n / 32)) === 0)
      .limit(32).select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .localCheckpoint(true)
    val nQ = queries.count()

    val points = for {
      mod <- Seq(10, 100, 1000) // 10% / 1% / 0.1% selectivity
      nProbe <- Seq(2, 4, 8)
    } yield {
      val pred = pmod($"vec_id", lit(mod)) === 0
      // ground truth: full probe (= brute force) under the predicate
      val truth = Ivf.searchBatch(spark, idx, centers, queries,
          nProbe = bigK, topK = topK, excludeSelf = true, predicate = Some(pred))
        .select($"q_id", $"vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truthRows = truth.count()

      val (fixedRows, fixedSec) = time(Ivf.searchBatch(spark, idx, centers,
        queries, nProbe, topK, excludeSelf = true,
        predicate = Some(pred)).count())
      val (adaptive, adaptiveSec) = time {
        val df = Ivf.searchBatchAdaptive(spark, idx, centers, queries,
          nProbe, topK, excludeSelf = true, predicate = Some(pred))
        val c = df.count()
        (df, c)
      }
      val hits = truth
        .join(adaptive._1.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
        .count()
      val adaptiveRecall = hits.toDouble / truthRows
      // AUTO (r18, Ivf.searchBatchAuto): bruteMax 10_000 splits the
      // sweep — 1/10 (30k survivors) stays on the routed escalation
      // ladder, 1/100 and 1/1000 switch to the exact pre-filter leg,
      // where recall is 1.0 by construction. The sweep therefore
      // exercises BOTH branches and the branch boundary.
      val bruteMax = 10000L
      // the branch is the DECISION THE SERVE MAKES, not a prediction
      // (r18 ADVICE: floor-division arithmetic here could assert the
      // wrong gate at a boundary survivor count) — run the decide
      // once, assert from it, and hand its count to the serve call
      val decision = Ivf.autoDecide(spark, idx, Some(pred), bruteMax)
      val autoBranch = decision.branch
      val (auto, autoSec) = time {
        val df = Ivf.searchBatchAuto(spark, idx, centers, queries,
          nProbe, topK, excludeSelf = true, predicate = Some(pred),
          bruteMax = bruteMax, survivorCount = Some(decision.survivors))
        val c = df.count()
        (df, c)
      }
      val autoHits = truth
        .join(auto._1.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
        .count()
      val autoRecall = autoHits.toDouble / truthRows
      truth.unpersist(false)
      val fixedFill = fixedRows.toDouble / (nQ * topK)
      val adaptiveFill = adaptive._2.toDouble / (nQ * topK)
      val autoFill = auto._2.toDouble / (nQ * topK)
      println(f"[ann-filter] sel=1/$mod nProbe=$nProbe " +
        f"fixed_fill=$fixedFill%.3f adaptive_fill=$adaptiveFill%.3f " +
        f"adaptive_recall=$adaptiveRecall%.3f " +
        f"fixed=$fixedSec%.2f s adaptive=$adaptiveSec%.2f s " +
        f"auto[$autoBranch]_fill=$autoFill%.3f recall=$autoRecall%.3f " +
        f"sec=$autoSec%.2f")
      (mod, nProbe, fixedFill, adaptiveFill, adaptiveRecall, fixedSec,
        adaptiveSec, autoFill, autoRecall, autoSec, autoBranch)
    }

    // the gate: somewhere in the sweep the fixed probe undershoots,
    // and the adaptive path always fills (enough matching rows exist
    // at every swept selectivity: n/1000 = 300 ≥ topK)
    require(points.exists(_._3 < 0.999),
      "fixture too easy: no swept point undershoots at fixed nProbe")
    points.foreach { case (mod, np, _, aFill, ar, _, _, autoFill, autoR, _, br) =>
      require(aFill >= 0.999,
        s"adaptive path failed to fill at sel=1/$mod nProbe=$np: $aFill")
      require(autoFill >= 0.999,
        s"auto path failed to fill at sel=1/$mod nProbe=$np: $autoFill")
      // the switch's whole point: exact on the brute branch, and never
      // worse than the ladder on the adaptive branch
      if (br == "brute") require(autoR >= 0.9999,
        s"auto brute leg must be exact at sel=1/$mod nProbe=$np: $autoR")
      else require(autoR >= ar - 1e-9,
        s"auto adaptive leg under-read the ladder at sel=1/$mod nProbe=$np")
    }

    val json = points.map {
      case (mod, np, ff, af, ar, fs, as_, autoF, autoR, autoS, br) =>
      f"""{"selectivity":"1/$mod","n_probe":$np,"fixed_fill":$ff%.4f,""" +
        f""""adaptive_fill":$af%.4f,"adaptive_recall":$ar%.4f,""" +
        f""""fixed_sec":$fs%.2f,"adaptive_sec":$as_%.2f,""" +
        f""""auto_branch":"$br","auto_fill":$autoF%.4f,""" +
        f""""auto_recall":$autoR%.4f,"auto_sec":$autoS%.2f}"""
    }.mkString(
      s"""{"metric":"filtered_ann_sweep","n":$n,"k":$bigK,"top_k":$topK,""" +
        s""""queries":$nQ,"points":[""",
      ",", "]}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
