package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.ops.{Ivf, Pq}

/** THIRD DECADE for the vector lane (VERDICT r16 #2): VEC_SCALE and
  * PQ_SCALE certify the ANN stack to 2–4M vectors; the 100-TB claim
  * needs the same per-unit rules through 20M. This probe runs the
  * PRODUCTION serving chain — IVF k-means build, cell-partitioned
  * IVFADC index write ([[Ivf.writeIndexPq]], residual PQ), and
  * one-plan batched serving ([[Ivf.searchPqBatch]]: distributed
  * routing, partition-pruned codes-only ADC cut, exact rerank) — at
  * n ∈ {2M, 6M, 20M} (scales 10/30/100 of VEC_SCALE's 200k base),
  * with stage-attributed wall + shuffle bytes and recall@10 against
  * the exact-L2 truth per arm.
  *
  * VERDICT RULE (the PIPELINE_SCALE convention): a stage is flagged
  * superlinear when its shuffle per-unit ratio between consecutive
  * arms — (b₃ₓ/3)/(b₁ₓ/1) or (b₁₀ₓ/10)/(b₃ₓ/3) — exceeds 1.2 with
  * the smaller arm above 20 MB, or its wall per-unit exceeds 1.25
  * with the smaller arm above 1.5 s (fixed 32-core box: wall-only
  * flags name the core-saturation regime, shuffle is the structural
  * gate). Recall@10 must hold flat (the quantizer's √N-cells heuristic
  * is NOT rescaled here — K=256 fixed — so a recall cliff would name
  * a real capacity limit, not a tuning artifact).
  *
  * Writes `VEC_SCALE_100X.json`.
  *
  * Usage: sbt "runMain graft.tools.VecScale100Probe [sizes] [outJson]"
  *   sizes default "2000000,6000000,20000000".
  */
object VecScale100Probe {

  val Dims = 64
  val KCells: Int = VecScaleProbe.KCells // 256
  val NProbe = 16
  val RerankC = 1000
  val NQueries = 64
  val PqM = 16
  val PqK = 256

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("2000000,6000000,20000000")
      .split(",").map(_.trim.toLong).toSeq
    val outJson = args.drop(1).headOption.getOrElse("VEC_SCALE_100X.json")
    val baseDir = sys.env.getOrElse("VEC_SCALE_DIR", "/tmp/vec_scale")

    val spark = graft.Session("vec-scale-100x-probe")
    import spark.implicits._
    val listener = StageMeter.install(spark)

    def staged[A](tag: String, n: Long)(body: => A): (A, String, Long, Double) = {
      listener.reset()
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      listener.drain()
      val by = listener.shuffleWriteBytes
      val sp = listener.spillBytes
      println(f"[n=$n] $tag%-10s $sec%8.1f s  shufMB=${by / 1e6}%.1f " +
        f"spillMB=${sp / 1e6}%.1f " +
        f"maxTaskMs=${listener.maxTaskMs} failed=${listener.failedTasks}")
      (out,
        f"""{"stage":"$tag","sec":$sec%.2f,"shuffle_bytes":$by,""" +
          s""""spill_bytes":$sp,"max_task_ms":${listener.maxTaskMs},""" +
          s""""failed_tasks":${listener.failedTasks}}""",
        by, sec)
    }

    val results = sizes.map { n =>
      val dir = s"$baseDir/n$n"
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, String)]
      def run[A](tag: String)(body: => A): A = {
        val (out, json, by, sec) = staged(tag, n)(body)
        stages += ((tag, by, sec, json)); out
      }

      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        run("gen")(VectorGenerator.write(spark, dir, n, nClusters = 100))
      val corpus = spark.read.parquet(s"$dir/embeddings.parquet")

      // stage 1: IVF quantizer build (k-means fit, 2 Lloyd iterations)
      val centers = run("ivf_fit")(
        Ivf.fit(corpus, col("embedding"), Seq(col("vec_id")),
          k = KCells, iters = 2))

      // stage 2: residual-PQ codebooks + cell-partitioned IVFADC index
      val assigned = Ivf.assign(corpus, col("embedding"), centers)
      val cb = run("pq_fit")(
        Pq.fit(assigned, Pq.residual(col("embedding"), col("cell"), centers),
          Seq(col("vec_id")), m = PqM, k = PqK, iters = 2))
      val idxDir = s"$dir/ivfpq_index_100x"
      run("index_write")(
        Ivf.writeIndexPq(corpus.select("vec_id", "embedding"), col("embedding"),
          col("vec_id"), centers, cb, idxDir, residual = true))

      // exact-L2 ground truth (also the brute baseline wall)
      val qRows = corpus.filter(col("vec_id") < NQueries)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val queries = qRows.toSeq.toDF("q_id", "q_emb")
      val truth = run("brute_truth")(
        corpus.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"),
            (lit(2.0) * graft.functions.dot_product(col("embedding"), col("q_emb"))
              - graft.functions.dot_product(col("embedding"), col("embedding"))).as("s"),
            lpad(col("vec_id").cast("string"), 19, "0").as("key"))
          .groupBy("q_id")
          .agg(graft.functions.topk_by_score(col("s"), col("key"), 10).as("topk"))
          .select(col("q_id"), explode(col("topk")).as("e"))
          .select(col("q_id"), col("e.key").cast("long").as("vec_id"))
          .as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet })

      // stage 3: batched IVFADC serving — ONE plan for all 64 queries
      val got = run("serve_batch")(
        Ivf.searchPqBatch(spark, idxDir, centers, cb, queries,
          NProbe, RerankC, topK = 10, residual = true, excludeSelf = true,
          metric = "l2")
          .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet })
      val per = truth.toSeq.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      val recall = per.sum / per.size
      println(f"[n=$n] recall@10=$recall%.4f")
      spark.sharedState.cacheManager.clearCache()

      (n, recall, stages.toSeq)
    }

    // per-unit verdict over consecutive arms (scale ratio from the
    // arm sizes themselves — no hardcoded decade constants)
    val stageNames = results.head._3.map(_._1).filter(_ != "gen")
    val verdicts = stageNames.map { name =>
      def at(r: (Long, Double, Seq[(String, Long, Double, String)])) =
        r._3.find(_._1 == name).get
      val flags = results.sliding(2).flatMap {
        case Seq(a, b) =>
          val (_, byA, secA, _) = at(a)
          val (_, byB, secB, _) = at(b)
          val ratio = b._1.toDouble / a._1
          val shufUnit = (byB / ratio) / math.max(byA.toDouble, 1.0)
          val wallUnit = (secB / ratio) / math.max(secA, 1e-9)
          Seq(
            (byA / 1048576.0 > 20 && shufUnit > 1.2) ->
              f"shuffle_unit_${a._1}to${b._1}=$shufUnit%.2f",
            (secA > 1.5 && wallUnit > 1.25) ->
              f"wall_unit_${a._1}to${b._1}=$wallUnit%.2f")
        case _ => Nil
      }.filter(_._1).map(_._2).toSeq
      val v = if (flags.isEmpty) "linear-or-better"
        else s"SUPERLINEAR: ${flags.mkString(", ")}"
      s""""$name":"$v""""
    }
    val recalls = results.map(r => f"${r._2}%.4f")
    val runsJson = results.map { case (n, recall, stages) =>
      s"""{"n":$n,"recall_at_10":${f"$recall%.4f"},""" +
        s""""stages":[${stages.map(_._4).mkString(",")}]}"""
    }
    val json = s"""{"metric":"vec_scale_100x","dims":$Dims,""" +
      s""""k_cells":$KCells,"n_probe":$NProbe,"rerank_c":$RerankC,""" +
      s""""m":$PqM,"k":$PqK,"n_queries":$NQueries,"cpus":${graft.Session.cores},""" +
      s""""heap_gb":${Runtime.getRuntime.maxMemory / 1073741824},""" +
      s""""recalls":[${recalls.mkString(",")}],""" +
      s""""verdict":{${verdicts.mkString(",")}},""" +
      s""""runs":[${runsJson.mkString(",")}]}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
