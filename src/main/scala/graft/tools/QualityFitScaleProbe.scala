package graft.tools

import java.nio.file.{Files, Paths}

/** Scale probe for the trained quality classifier
  * ([[graft.ops.QualityModel]]): the claim under test is that training
  * cost = ONE text-scan feature pass + T map-side-combinable
  * aggregations over a 6-double-per-row frame, so (a) the feature pass
  * scales linearly with the corpus and dominates, and (b) the
  * per-iteration GD cost is a small near-linear share (each iteration
  * shuffles only 32 partial gradient rows). A super-linear curve or
  * iterations rivaling the scan would falsify the "T cheap passes"
  * story before it meets 100 TB.
  *
  * Corpora come from [[CorpusGenerator]] (the driver testdata's
  * schema/statistics at any size — markers present, so labels are
  * non-degenerate). Writes QUALITY_FIT_SCALE.json.
  *
  * Usage: sbt "runMain graft.tools.QualityFitScaleProbe [sizes]"
  */
object QualityFitScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("250000,1000000,4000000")
      .split(",").map(_.trim.toLong).toSeq
    val baseDir = sys.env.getOrElse("CORPUS_SCALE_DIR", "/tmp/corpus_scale")
    val spark = graft.Session("quality-fit-scale")

    val results = sizes.map { n =>
      val dir = s"$baseDir/n$n"
      if (!new java.io.File(s"$dir/documents.parquet").exists())
        CorpusGenerator.write(spark, dir, n)
      val docs = graft.io.Tables.documents(spark, dir)

      // the feature pass alone: materialize the 6-double frame once
      val t0 = System.nanoTime()
      val feats = graft.ops.QualityModel.fitFeatures(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows = feats.count()
      val tFeat = (System.nanoTime() - t0) / 1e9
      feats.unpersist(blocking = true)

      // full training (builds + persists ITS OWN feature frame, then
      // runs Iters aggregation passes) — per-iteration share derived
      // as (total − features) / Iters
      val t1 = System.nanoTime()
      val traj = graft.ops.QualityModel.fitWeights(spark, dir)
      val tFit = (System.nanoTime() - t1) / 1e9
      require(traj.size == graft.ops.QualityModel.Iters)
      require(traj.last.exists(w => math.abs(w) > 0), "degenerate weights")
      val perIter = (tFit - tFeat) / graft.ops.QualityModel.Iters
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      println(f"[fit-scale n=$n] rows=$rows feat=$tFeat%.1f s " +
        f"fit=$tFit%.1f s per-iter≈$perIter%.2f s")
      f"""{"n":$n,"rows":$rows,"features_sec":$tFeat%.2f,""" +
        f""""fit_total_sec":$tFit%.2f,"per_iter_sec":$perIter%.3f}"""
    }
    val json = s"""{"metric":"quality_fit_scale","iters":${
      graft.ops.QualityModel.Iters},"runs":[${results.mkString(",")}]}"""
    Files.writeString(Paths.get("QUALITY_FIT_SCALE.json"), json)
    println(json)
    spark.stop()
  }
}
