package graft

/** Benchmark main (driver contract): times every declared query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`
  * plus, when `bench_baseline.json` exists, a `regressions` map of
  * queries slower than 1.5× their pinned round-1 time, and a `failed`
  * array so a failing query can never masquerade as a fast success.
  * In-run numbers are MIN-OF-2 for queries that trip their pin's
  * 1.5× gate on the first shot (VERDICT r14 #6 — see the loop).
  *
  * Each query is forced through `queryExecution.toRdd.count()` — unlike
  * `df.count()`, this executes the query's full physical plan (sorts,
  * projections, window functions) instead of letting Catalyst collapse
  * everything into a scan-count, so the timings reflect real work.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench")

    // warm-up passes of the IO + codegen paths so per-query timings
    // measure the operators, not first-touch JIT/classloading. One
    // representative per INPUT LANE (events / documents / embeddings /
    // tpch), all sub-second queries: r9's driver run showed the
    // sub-second event lane taxed ~1.17× across the board when new
    // upstream queries pushed first-touch costs into it.
    // r13: two kernel-family reps added (token_stats/sketch statics
    // JIT off the documents lane before any timed query touches
    // them); the broader in-run-noise fix is the code-cache headroom
    // in build.sbt (NOTES_r13) — each query's generated class is its
    // own, so warm-ups can only cover shared kernels and lanes.
    // r14 (VERDICT r13 #8): the r13 in-run flags clustered on
    // broadcast-heavy documents-lane queries early in their kernel
    // family (q_corpus_drift / q_decontaminate / q_hash_embed /
    // q_doc_similar — all isolation-cleared). One untimed rep of the
    // first heavy query per such family pushes the remaining
    // first-touch (hash-embed tf/df kernels, shingle explode,
    // broadcast-build machinery) out of the timed region.
    Seq("q1_agg", "q_sample_det", "q_token_count", "q_similarity_topk",
        "q_sort_limit", "q_rep_quality", "q_kmv_distinct",
        "q_hash_embed", "q_decontaminate", "q_corpus_drift").foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case scala.util.control.NonFatal(_) => () } // timed loop reports it
      }
      spark.sharedState.cacheManager.clearCache()
    }
    // MEDIA FIXTURE/SIGNATURE STORES, untimed (VERDICT r16 #6): these
    // are FixtureCache-backed (disk, cross-JVM), but a FRESH WORKSPACE
    // paid synthesis + decode inside the first media query's timed
    // shot (bench_local_r16a: q_video_neardup 13.6 s cold vs 3.9
    // warm). Building them here moves that one-time cost out of the
    // timed region; warm workspaces just re-read parquet. The memos
    // are eager localCheckpoints — calling them IS the build.
    // NonFatal ONLY (ADVICE r17): an OutOfMemoryError/Interrupted here
    // must propagate — swallowing a fatal warm-up failure silently
    // moves the build cost back into the first timed media query AND
    // hides a dying JVM. A non-fatal miss is logged so a failed
    // pre-build is visible in bench output.
    try {
      graft.multimodal.Multimodal.imagesFromDocumentsMemo(spark, sfDir)
      graft.multimodal.Multimodal.nearDupImagePHashesMemo(spark, sfDir)
      graft.multimodal.AudioDedup.nearDupFingerprintsMemo(spark, sfDir)
      graft.multimodal.VideoDedup.nearDupFrameHashesMemo(spark, sfDir)
      // q_cdc_store's fixture store (r19, same rationale as the media
      // memos above): the store is a deterministic INPUT fixture (6
      // log batches + 2 compactions written once per JVM); paying its
      // synthesis in the first timed shot measured the fixture write,
      // not the declared merge-on-read read path. Old numbers kept in
      // OPTIMIZATION_r19.md.
      graft.ops.Cdc.prebuildStore(spark, sfDir)
    } catch { case scala.util.control.NonFatal(e) =>
      // covers the media memos AND the CDC store (ADVICE r19): on a
      // miss the cost moves into the first timed query that needs the
      // failed fixture, not specifically a media one
      System.err.println(s"[bench] fixture pre-build failed " +
        s"(cost moves into the first timed query that needs it): $e")
    }
    spark.sharedState.cacheManager.clearCache()
    System.gc()

    // pins loaded BEFORE the loop: the min-of-2 discipline below
    // needs each query's pin while it is being timed
    val baseline = readBaseline("bench_baseline.json")

    var failed = List.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def timeOnce(): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case e: Throwable =>
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // OUTSIDE the timed region — cache hygiene + a GC breather:
      // queries that persist() an internal subtree are done with it, so
      // drop the blocks (a leaked cache measured as a ~3× slowdown on
      // later window queries), and absorb accumulated codegen/broadcast
      // garbage between queries instead of as a pause inside one.
      def settle(): Unit = {
        spark.sharedState.cacheManager.clearCache()
        System.gc()
      }
      val first = timeOnce()
      settle()
      // MIN-OF-2 IN-RUN DISCIPLINE (VERDICT r14 #6): the in-run lane
      // single-shotted each query against frozen pins on a box with a
      // moving noise floor (NOTES_r14: 1/11/15 inline flags across
      // three identical-code runs, near-disjoint flag sets). A query
      // that lands past its pin's 1.5× gate is re-timed ONCE
      // immediately — same run position, clean cache, settled heap —
      // and the in-run number is the min of the two (the QTime /
      // PipelineScaleProbe discipline). Genuine plan regressions
      // survive both shots; page-cache/JIT/GC one-offs don't burn a
      // verdict cycle. The end-of-run isolation lane is unchanged.
      val sec =
        if (!failed.contains(name) &&
            baseline.get(name).exists(b => b > 0 && first > b * 1.5)) {
          val second = timeOnce()
          settle()
          if (failed.contains(name)) {
            // The FIRST shot succeeded — a transient failure on the
            // re-time must not discard a valid measurement or exclude
            // the query from the total/regression gates (ADVICE r15).
            // `failed` marks queries whose measurement is unusable;
            // this one's is `first`.
            failed = failed.filterNot(_ == name)
            first
          } else math.min(first, second)
        } else first
      name -> sec
    }
    val timings = results.toMap
    // per-query seconds at 3 decimals (VERDICT r19 #2): with 153
    // queries at 9 fractional digits the one-line JSON outgrew the
    // driver's stdout tail-capture once (r18's `parsed: null` cost a
    // whole round its per-query comparison). ms precision is far
    // below box noise; halving the line keeps it inside the capture
    // window. Totals/ratios keep full precision (they are few).
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (failed.contains(k)) "-1.0" else f"$v%.3f")
    }.mkString("{", ",", "}")
    val total = results.collect { case (k, v) if !failed.contains(k) => v }.sum

    // regression gate vs the pinned round-1 baseline (>1.5× slower;
    // `timings` already carries the min-of-2 in-run numbers)
    val inline = baseline.toSeq.flatMap { case (name, b) =>
      timings.get(name).filter(t => !failed.contains(name) && b > 0 && t > b * 1.5)
        .map(t => name -> (t / b))
    }.sortBy(-_._2)

    // END-OF-RUN ISOLATION RE-TIME (r9 verdict #1): an in-run flag can
    // be run-order noise — GC debt, JIT churn, or a neighboring query's
    // memory pressure — not a plan regression. Re-time each flagged
    // query after the full suite with a clean cache + settled heap,
    // best of 2 (the second run removes residual first-touch effects
    // of the query's own lane). `regressions` reports only queries
    // that stay >1.5× IN ISOLATION; the raw in-run flags are kept in
    // `regressions_inline` so the two regimes stay distinguishable.
    //
    // Two deliberate caveats of this regime (review r10): (a) a query
    // that FAILS during the re-time keeps its INLINE ratio in
    // `regressions` (a crash must never read as "cleared"); (b)
    // session-memoized stages (fixture stores, the CC assignment, BPE
    // merges) are warm by end of run, so a regression INSIDE a
    // memoized compute won't re-show in isolation — that cost is
    // covered by the `total_vs_baseline` gate below, which no memo
    // can hide.
    val isolated = inline.map { case (name, _) =>
      val fn = SparkEntry.queries(name)
      var isoFailed = false
      val runs = (1 to 2).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).queryExecution.toRdd.count()
        catch { case e: Throwable =>
          isoFailed = true
          System.err.println(s"[bench] isolation re-time of $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      spark.sharedState.cacheManager.clearCache()
      name -> (if (isoFailed) Double.NaN else runs.min)
    }.toMap
    val regressions = inline.flatMap { case (name, inlineRatio) =>
      val t = isolated(name)
      val b = baseline(name)
      if (t.isNaN) Some(name -> inlineRatio) // crashed re-time: keep the flag
      else if (t > b * 1.5) Some(name -> (t / b))
      else None
    }
    regressions.foreach { case (n, r) =>
      System.err.println(f"[bench] REGRESSION $n: ${r}%.2fx vs baseline (isolated)")
    }
    inline.foreach { case (n, r) =>
      System.err.println(
        f"[bench] inline flag $n: ${r}%.2fx in-run, ${isolated(n) / baseline(n)}%.2fx isolated")
    }
    def regJson(m: Seq[(String, Double)]) =
      m.map { case (k, r) => f""""$k":$r%.2f""" }.mkString("{", ",", "}")
    val isoJson = isolated.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${if (v.isNaN) "-1.0" else f"$v%.3f"}""" }
      .mkString("{", ",", "}")
    val failJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // whole-suite gate: IN-RUN total over the sum of pins for pinned,
    // non-failed queries — broad slowdowns (including regressions
    // inside session-memoized stages, whose cost lands in some
    // query's in-run time) show here even when every per-query flag
    // isolation-clears
    def ratioOver(keep: String => Boolean): String = {
      val s = baseline.collect {
        case (k, b) if keep(k) && timings.contains(k) &&
          !failed.contains(k) && b > 0 => b
      }.sum
      val g = baseline.collect {
        case (k, b) if keep(k) && timings.contains(k) &&
          !failed.contains(k) && b > 0 => timings(k)
      }.sum
      if (s > 0) f"${g / s}%.3f" else "null"
    }
    val totalRatio = ratioOver(_ => true)
    // LIKE-FOR-LIKE ratio (VERDICT r17 #5): `total_vs_baseline` drifts
    // toward 1.0 whenever a NEW query joins the numerator (its
    // first-time pin is set from its own clean-run median, ratio ≈ 1 —
    // r17's 0.816→0.905 was entirely the two q_rag_* additions). The
    // `common_set` frozen in bench_baseline.json (the r18 148-query
    // surface; additions get pins but never common-set membership)
    // makes round-over-round ratios comparable on a FIXED query set.
    val commonSet = readCommonSet("bench_baseline.json")
    val commonRatio =
      if (commonSet.isEmpty) "null" else ratioOver(commonSet.contains)

    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failJson,"regressions":${regJson(regressions)},"regressions_inline":${regJson(inline)},"queries_isolated":$isoJson,"total_vs_baseline":$totalRatio,"total_vs_baseline_common":$commonRatio,"sf":"$sfDir"}"""
    println(line)
    // BUILDER-OWNED COMPLETE ARTIFACT (VERDICT r13 #6): the driver's
    // BENCH_r{N}.json keeps only a truncated stdout tail (~59 of 139
    // per-query times survived in r13), so the bench also writes the
    // full line itself — round-over-round per-query diffs need every
    // key. Repo-relative; round tag from the env. Unset, the tag is
    // `dev` (git-ignored), so an ad-hoc run never overwrites a
    // committed round artifact.
    try {
      val round = sys.env.getOrElse("SPARK_GRAFT_ROUND", "dev")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"bench_local_$round.json"), line)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] local artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }

  /** The frozen like-for-like query set from bench_baseline.json's
    * `common_set` array (absent → empty, and the common ratio reads
    * null rather than silently aliasing total_vs_baseline). */
  private def readCommonSet(path: String): Set[String] = {
    try {
      val f = new java.io.File(path)
      if (!f.exists()) return Set.empty
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = mapper.readTree(f).get("common_set")
      if (arr == null || !arr.isArray) return Set.empty
      val b = Set.newBuilder[String]
      val it = arr.elements()
      while (it.hasNext) b += it.next().asText()
      b.result()
    } catch { case scala.util.control.NonFatal(_) => Set.empty }
  }

  /** Minimal parse of bench_baseline.json's {"queries":{name:sec}} via
    * the Jackson shipped with Spark — no extra dependency. */
  private def readBaseline(path: String): Map[String, Double] = {
    try {
      val f = new java.io.File(path)
      if (!f.exists()) return Map.empty
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(f)
      val qs = root.get("queries")
      if (qs == null) return Map.empty
      val it = qs.fieldNames()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val k = it.next(); b += k -> qs.get(k).asDouble() }
      b.result()
    } catch { case _: Throwable => Map.empty }
  }
}
