package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Ivf, Util}

/** Scale probe for q_knn_label's plan shape — IVF-cell-bounded kNN
  * label propagation: labeled seed pool (80%) and unlabeled queries
  * (20%) both assign to a √N-cell quantizer, queries route to
  * nProbe=2 cells, the candidate space is the CELL join (neither side
  * broadcasts), per-query top-5 via the bounded-state topk aggregate,
  * majority vote. Measures wall / max task / shuffle volume at
  * growing corpus sizes AND classification accuracy against the
  * generator's PLANTED cluster labels (clusters are well-separated at
  * noise 0.25, so a correct kNN recovers them — accuracy is a
  * semantic readout, not a vanity metric: a routing or vote bug shows
  * up as chance-level accuracy). Writes KNN_SCALE.json.
  *
  * Usage: sbt "runMain graft.tools.KnnScaleProbe [sizes] [outJson]"
  *   sizes default "250000,1000000".
  */
object KnnScaleProbe {

  val NProbe = 2
  val KNbr = 5

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("250000,1000000")
      .split(",").map(_.trim.toLong).toSeq
    val outJson = args.drop(1).headOption.getOrElse("KNN_SCALE.json")
    val baseDir = sys.env.getOrElse("KNN_SCALE_DIR", "/tmp/knn_scale")

    val spark = graft.Session("knn-scale-probe", sys.env.get("KNN_SCALE_FALLBACK")
      .map(graft.functions.ConfGuard.ThresholdKey -> _).toSeq: _*)
    val listener = StageMeter.install(spark)

    val results = sizes.map { n =>
      val dir = s"$baseDir/n$n"
      VectorGenerator.write(spark, dir, n, nClusters = 100)
      val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      val kCells = math.max(256, math.sqrt(n.toDouble).toInt)

      val tFit = System.nanoTime()
      val centers = Ivf.fit(corpus, col("embedding"), Seq(col("vec_id")),
        k = kCells, iters = 2)
      val fitSec = (System.nanoTime() - tFit) / 1e9

      listener.reset()
      val tKnn = System.nanoTime()
      val labeled = Ivf.assign(
          corpus.filter(pmod(col("vec_id"), lit(10)) < 8),
          col("embedding"), centers)
        .filter(col("cell").isNotNull)
      val qs = corpus.filter(pmod(col("vec_id"), lit(10)) >= 8)
        .select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("embedding").as("q_emb"),
          explode(graft.functions.nearest_cells(col("embedding"), centers,
            NProbe)).as("cell"))
      val top5 = labeled.join(qs, Seq("cell"))
        .select(col("q_id"), col("true_label"),
          graft.functions.cosine_sim(col("embedding"), col("q_emb"))
            .as("cos_sim"),
          concat(Util.lpadKey(col("vec_id")), lit(":"),
            col("label").cast("string")).as("key"))
        .groupBy(col("q_id"), col("true_label"))
        .agg(graft.functions.topk_by_score(col("cos_sim"), col("key"), KNbr)
          .as("topk"))
        .select(col("q_id"), col("true_label"), explode(col("topk")).as("nb"))
        .select(col("q_id"), col("true_label"),
          substring(col("nb.key"), 21, 11).cast("int").as("cand_label"))
      val votes = top5
        .groupBy(col("q_id"), col("true_label"), col("cand_label")).count()
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("count").desc, col("cand_label").asc)
      val pred = votes.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("q_id"),
          (col("cand_label") === col("true_label")).cast("int").as("ok"))
      val Array(nClassified, nOk) = pred
        .agg(count(lit(1)), sum(col("ok"))).head()
        .toSeq.map(_.toString.toLong).toArray
      val knnSec = (System.nanoTime() - tKnn) / 1e9
      listener.drain()
      spark.sharedState.cacheManager.clearCache()
      val acc = nOk.toDouble / math.max(1L, nClassified)
      println(f"[n=$n] kCells=$kCells fit $fitSec%.1f s  knn $knnSec%.1f s  " +
        f"acc $acc%.4f ($nOk/$nClassified)  maxTaskMs=${listener.maxTaskMs} " +
        f"shufMB=${listener.shuffleWriteBytes / 1e6}%.0f failed=${listener.failedTasks}")
      f"""{"n":$n,"k_cells":$kCells,"fit_sec":$fitSec%.2f,"knn_sec":$knnSec%.2f,""" +
        f""""accuracy":$acc%.4f,"n_classified":$nClassified,""" +
        s""""max_task_ms":${listener.maxTaskMs},""" +
        s""""shuffle_write_bytes":${listener.shuffleWriteBytes},""" +
        s""""failed_tasks":${listener.failedTasks}}"""
    }
    val out = s"""{"rows":[${results.mkString(",")}]}"""
    println(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      out.getBytes("UTF-8"))
    spark.stop()
  }
}
