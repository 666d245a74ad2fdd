package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.ops.Ivf

/** nProbe sweep companion to [[VecScaleProbe]]: at ONE corpus size,
  * sweep the IVF probe width and record recall@10 + wall for the
  * 64-query batch — the accuracy/cost dial a user actually turns.
  * Reuses the corpus/quantizer/index a VecScaleProbe run left behind
  * (regenerates if absent). Writes `VEC_SWEEP.json`.
  *
  * Usage: sbt "runMain graft.tools.VecSweepProbe [n] [outJson]"
  */
object VecSweepProbe {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val outJson = args.drop(1).headOption.getOrElse("VEC_SWEEP.json")
    val dir = s"${sys.env.getOrElse("VEC_SCALE_DIR", "/tmp/vec_scale")}/n$n"
    val probes = Seq(1, 2, 4, 8, 16, 32)

    val spark = graft.Session("vec-sweep-probe")
    import spark.implicits._

    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      VectorGenerator.write(spark, dir, n, nClusters = 100)
      val c = Ivf.fit(spark.read.parquet(s"$dir/embeddings.parquet"),
        col("embedding"), Seq(col("vec_id")), k = VecScaleProbe.KCells, iters = 2)
      Ivf.save(spark, c, s"$dir/quantizer")
      Ivf.writeIndex(spark.read.parquet(s"$dir/embeddings.parquet"),
        col("embedding"), col("vec_id"), c, s"$dir/index")
    }
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val centers = Ivf.load(spark, s"$dir/quantizer")
    val idx = spark.read.parquet(s"$dir/index")
    val qRows = corpus.filter(col("vec_id") < VecScaleProbe.NQueries)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val queries = qRows.toSeq.toDF("q_id", "q_emb")

    def topkOf(candidates: org.apache.spark.sql.DataFrame) =
      candidates
        .select(col("q_id"),
          graft.functions.cosine_sim(col("embedding"), col("q_emb")).as("s"),
          lpad(col("vec_id").cast("string"), 19, "0").as("key"))
        .groupBy("q_id")
        .agg(graft.functions.topk_by_score(col("s"), col("key"), 10).as("topk"))
        .select(col("q_id"), explode(col("topk")).as("e"))
        .select(col("q_id"), col("e.key").cast("long").as("vec_id"))

    def collectSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }

    // ground truth once
    val truth = collectSets(topkOf(corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))))

    val runs = probes.map { p =>
      val probeDf = qRows.toSeq.flatMap { case (q, e) =>
        Ivf.nearestCells(centers, e.map(_.toDouble), p).map(c => (q, c, e))
      }.toDF("q_id", "cell", "q_emb")
      val t0 = System.nanoTime()
      val got = collectSets(topkOf(idx.join(broadcast(probeDf), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))))
      val sec = (System.nanoTime() - t0) / 1e9
      val rec = truth.toSeq.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      val recall = rec.sum / rec.size
      println(f"[sweep n=$n] nProbe=$p%-3d recall@10=$recall%.4f wall=$sec%.2f s")
      s"""{"n_probe":$p,"recall_at_10":${f"$recall%.4f"},"sec":${f"$sec%.3f"}}"""
    }
    val json = s"""{"metric":"vec_sweep","n":$n,"k_cells":${VecScaleProbe.KCells},""" +
      s""""n_queries":${VecScaleProbe.NQueries},"runs":[${runs.mkString(",")}]}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
