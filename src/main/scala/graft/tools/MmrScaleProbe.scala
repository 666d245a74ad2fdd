package graft.tools

import java.nio.file.Files

/** q_mmr_batch SCALE artifact (VERDICT r14 #7): the top bench wall is
  * brand-new — probe its wall against QUERY COUNT on a FIXED corpus
  * and pin the two structural claims with measured bytes:
  *   - wall grows ~linearly in the query count (the pair space is
  *     queries × K(K−1)/2 and the per-group fold is per-query);
  *   - corpus-scan work is INDEPENDENT of the query count (one scan
  *     feeds candidate retrieval, one feeds the shared embedding
  *     space) — measured as total input-read bytes, which must stay
  *     ~flat while queries grow 16×.
  *
  * Query counts come from the serving batch's id stride
  * ([[graft.ops.Retrieval.mmrBatch]]'s `queryMod`): mod 1600/400/100
  * over a 160k-doc [[ProbeCorpus]] = 100/400/1600 queries (1×/4×/16×,
  * mod 100 = the declared-query geometry). MIN-OF-2 walls (the
  * PipelineScaleProbe discipline); shuffle/input bytes from rep 0.
  *
  * Usage: sbt "runMain graft.tools.MmrScaleProbe [baseDocs]"
  * (default 160000). Writes MMR_SCALE.json.
  */
object MmrScaleProbe {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.map(_.toLong).getOrElse(160000L)
    val spark = graft.Session("graft-mmr-scale")
    val meter = StageMeter.install(spark)
    val root = Files.createTempDirectory("graft_mmr_scale").toString
    ProbeCorpus.writeCorpus(spark, root, base)
    val docs = spark.read.parquet(s"$root/documents.parquet")

    val rows = Seq(1600, 400, 100).map { mod =>
      val reps = (0 until 2).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        meter.reset()
        val t0 = System.nanoTime()
        val out = graft.ops.Retrieval.mmrBatch(docs, queryMod = mod)
        // ONE action: running the frame twice would double-count the
        // wall (the checkpointed candidate stage re-runs per action)
        val agg = out.agg(
          org.apache.spark.sql.functions.countDistinct("q_id"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1))).head
        val (nQueries, nRows) = (agg.getLong(0), agg.getLong(1))
        val sec = (System.nanoTime() - t0) / 1e9
        meter.drain()
        (sec, meter.shuffleWriteBytes, meter.inputBytes, nQueries, nRows)
      }
      val wall = reps.map(_._1).min
      val (_, shuf, in, nQ, nR) = reps.head
      (mod, nQ, nR, wall, shuf, in)
    }

    val mb = 1048576.0
    // corpus size on disk — the yardstick for "did more queries cost
    // more corpus scans": input growth across 16× queries must stay
    // well under ONE extra corpus read (the absolute input numbers
    // are dominated by checkpointed-candidate block reads, which DO
    // grow with queries and are supposed to — comparing their ratio
    // alone misreads MBs of candidate reads as corpus rescans)
    val corpusBytes = {
      val d = new java.io.File(s"$root/documents.parquet")
      Option(d.listFiles()).map(_.map(_.length()).sum).getOrElse(0L)
    }
    // verdict: wall linear-in-queries (per-query wall at 16× within
    // 1.5× of 1× — fixed corpus costs make per-query wall FALL, so
    // the bound is one-sided); corpus-scan independence = input
    // growth < half a corpus read while queries grew 16×
    val (m1, q1, _, w1, _, in1) = rows.head
    val (m16, q16, _, w16, _, in16) = rows.last
    val perQ1 = w1 / math.max(q1.toDouble, 1)
    val perQ16 = w16 / math.max(q16.toDouble, 1)
    val verdict =
      if (perQ16 > perQ1 * 1.5)
        f"superlinear-in-queries: per-query wall $perQ1%.4f -> $perQ16%.4f s"
      else if (in16 - in1 > corpusBytes / 2)
        f"corpus-scan NOT query-independent: input ${in1 / mb}%.0f -> ${in16 / mb}%.0f MB vs corpus ${corpusBytes / mb}%.0f MB"
      else "linear-in-queries, corpus-scan-count independent"

    val rowJson = rows.map { case (mod, nQ, nR, wall, shuf, in) =>
      f"""    {"query_mod": $mod, "n_queries": $nQ, "result_rows": $nR,
         |     "wall_sec": $wall%.2f, "per_query_ms": ${1000 * wall / math.max(nQ.toDouble, 1)}%.2f,
         |     "shuffle_mb": ${shuf / mb}%.1f, "input_mb": ${in / mb}%.1f}""".stripMargin
    }.mkString(",\n")
    val out =
      s"""{
         |  "metric": "mmr_scale",
         |  "base_docs": $base,
         |  "corpus_mb": ${(corpusBytes / mb).round},
         |  "note": "fixed corpus, query count varied via id stride; wall = min of 2 reps; corpus-scan independence = input growth across 16x queries well under one corpus read (absolute input is dominated by checkpointed-candidate block reads, which scale with queries by design); shuffle grows with the candidate/pair space (queries x K(K-1)/2), never the corpus.",
         |  "rows": [
         |$rowJson
         |  ],
         |  "verdict": "$verdict"
         |}""".stripMargin
    Files.write(java.nio.file.Paths.get("MMR_SCALE.json"), out.getBytes("UTF-8"))
    println(out)
    spark.stop()
  }
}
