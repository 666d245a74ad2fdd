package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.ops.{Ivf, VectorOps}

/** ANN scaling-curve harness (VERDICT r4 "next round" #1): generates
  * [[VectorGenerator]] corpora at growing sizes and measures, at each
  * size:
  *
  *   - quantizer BUILD: k-means fit (K cells, 2 Lloyd iterations, all
  *     DataFrame aggregations) + persisted cell-partitioned index;
  *   - brute force: batched exact top-10 for Q queries in one
  *     broadcast pass (the ground truth AND the baseline wall);
  *   - IVF: the same Q queries probing nProbe cells each through the
  *     built (not ground-truth-label) quantizer — wall, max task,
  *     recall@10 vs brute;
  *   - sign-LSH: 12-bit native bucketing, 13-bucket multiprobe —
  *     wall, recall@10;
  *   - single-query wall: brute full-scan vs IVF partition-pruned
  *     probe (the per-query serving shape).
  *
  * Writes `VEC_SCALE.json`; PERF.md reads the curve. Failure criteria
  * match DedupScaleProbe: failed tasks, OOM, or super-linear wall.
  *
  * Usage: sbt "runMain graft.tools.VecScaleProbe [sizes] [outJson]"
  *   sizes default "200000,500000,1000000,2000000".
  */
object VecScaleProbe {

  val Dims = 64
  val KCells = 256
  val NProbe = 8
  val NQueries = 64
  val LshBits = 12

  private def bucketOf(emb: Array[Float], planes: Array[Array[Double]]): Long = {
    var b = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var d = 0.0
      var i = 0
      while (i < p.length) { d += emb(i).toDouble * p(i); i += 1 }
      if (d > 0) b |= 1L << j
      j += 1
    }
    b
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("200000,500000,1000000,2000000")
      .split(",").map(_.trim.toLong).toSeq
    val outJson = args.drop(1).headOption.getOrElse("VEC_SCALE.json")
    val baseDir = sys.env.getOrElse("VEC_SCALE_DIR", "/tmp/vec_scale")

    val spark = graft.Session("vec-scale-probe")
    import spark.implicits._
    val listener = StageMeter.install(spark)

    // returns (metricsJson, collected top-10 id sets per query)
    def timedTopk(tag: String, n: Long)(df: => DataFrame)
        : (String, Map[Long, Set[Long]]) = {
      listener.reset()
      val t0 = System.nanoTime()
      val rows = df.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      listener.drain()
      spark.sharedState.cacheManager.clearCache()
      val got = rows.map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
      println(f"[n=$n] $tag%-12s $sec%8.1f s  maxTaskMs=${listener.maxTaskMs} " +
        f"shufMB=${listener.shuffleWriteBytes / 1e6}%.0f failed=${listener.failedTasks}")
      (s""""$tag":{"sec":${f"$sec%.3f"},"max_task_ms":${listener.maxTaskMs},""" +
        s""""shuffle_write_bytes":${listener.shuffleWriteBytes},""" +
        s""""failed_tasks":${listener.failedTasks}}""", got)
    }

    def topkOf(candidates: DataFrame): DataFrame =
      candidates
        .select(col("q_id"),
          graft.functions.cosine_sim(col("embedding"), col("q_emb")).as("s"),
          lpad(col("vec_id").cast("string"), 19, "0").as("key"))
        .groupBy("q_id")
        .agg(graft.functions.topk_by_score(col("s"), col("key"), 10).as("topk"))
        .select(col("q_id"), explode(col("topk")).as("e"))
        .select(col("q_id"), col("e.key").cast("long").as("vec_id"))

    def recall(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double = {
      val per = truth.toSeq.map { case (q, t) =>
        if (t.isEmpty) 1.0 else got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }

    val planes = (0 until LshBits).map(VectorOps.hyperplane(_, Dims)).toArray

    val results = sizes.map { n =>
      val dir = s"$baseDir/n$n"
      val tGen = System.nanoTime()
      VectorGenerator.write(spark, dir, n, nClusters = 100)
      val genSec = (System.nanoTime() - tGen) / 1e9
      val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      println(f"[n=$n] generated in $genSec%.1f s")

      // quantizer build: fit on the vectors alone + persist + index
      val tFit = System.nanoTime()
      val centers = Ivf.fit(corpus, col("embedding"), Seq(col("vec_id")),
        k = KCells, iters = 2)
      Ivf.save(spark, centers, s"$dir/quantizer")
      val fitSec = (System.nanoTime() - tFit) / 1e9
      val tIdx = System.nanoTime()
      Ivf.writeIndex(corpus, col("embedding"), col("vec_id"), centers, s"$dir/index")
      val idxSec = (System.nanoTime() - tIdx) / 1e9
      println(f"[n=$n] fit $fitSec%.1f s, index $idxSec%.1f s")

      val qRows = corpus.filter(col("vec_id") < NQueries)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val queries = qRows.toSeq.map { case (q, e) => (q, e) }
        .toDF("q_id", "q_emb")

      // 1. brute force = ground truth + baseline
      val (bruteJson, truth) = timedTopk("brute_batch", n)(
        topkOf(corpus.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))))

      // 2. IVF through the BUILT quantizer (batch of Q queries)
      val loaded = Ivf.load(spark, s"$dir/quantizer")
      val probeDf = qRows.toSeq.flatMap { case (q, e) =>
        Ivf.nearestCells(loaded, e.map(_.toDouble), NProbe).map(c => (q, c, e))
      }.toDF("q_id", "cell", "q_emb")
      val idx = spark.read.parquet(s"$dir/index")
      val (ivfJson, ivfGot) = timedTopk("ivf_batch", n)(
        topkOf(idx.join(broadcast(probeDf), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))))
      val ivfRecall = recall(ivfGot, truth)

      // 3. sign-LSH multiprobe (13 of 4096 buckets per query)
      val bucketed = corpus.select(col("vec_id"), col("embedding"),
        graft.functions.sign_lsh_bucket(col("embedding"), planes).as("bucket"))
      val lshProbes = qRows.toSeq.flatMap { case (q, e) =>
        val b = bucketOf(e, planes)
        (b +: (0 until LshBits).map(j => b ^ (1L << j))).map(pb => (q, pb, e))
      }.toDF("q_id", "bucket", "q_emb")
      val (lshJson, lshGot) = timedTopk("lsh_batch", n)(
        topkOf(bucketed.join(broadcast(lshProbes), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))))
      val lshRecall = recall(lshGot, truth)

      // 4. single-query serving shape: full scan vs partition-pruned probe
      val q0 = qRows.head._2
      val tB1 = System.nanoTime()
      corpus.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          graft.functions.cosine_sim(col("embedding"), typedlit(q0.toSeq)).as("s"))
        .orderBy(col("s").desc, col("vec_id").asc).limit(10).collect()
      val bruteSingle = (System.nanoTime() - tB1) / 1e9
      val tI1 = System.nanoTime()
      Ivf.search(spark, s"$dir/index", loaded, q0, NProbe, 10).collect()
      val ivfSingle = (System.nanoTime() - tI1) / 1e9
      println(f"[n=$n] recall@10 ivf=$ivfRecall%.3f lsh=$lshRecall%.3f " +
        f"single brute=$bruteSingle%.2f s ivf=$ivfSingle%.2f s")

      s"""{"n":$n,"gen_sec":${f"$genSec%.2f"},"fit_sec":${f"$fitSec%.2f"},""" +
        s""""index_sec":${f"$idxSec%.2f"},$bruteJson,$ivfJson,""" +
        s""""ivf_recall_at_10":${f"$ivfRecall%.4f"},$lshJson,""" +
        s""""lsh_recall_at_10":${f"$lshRecall%.4f"},""" +
        s""""brute_single_sec":${f"$bruteSingle%.3f"},""" +
        s""""ivf_single_sec":${f"$ivfSingle%.3f"}}"""
    }

    val json = s"""{"metric":"vec_scale","dims":$Dims,"clusters":100,""" +
      s""""k_cells":$KCells,"n_probe":$NProbe,"n_queries":$NQueries,""" +
      s""""lsh_bits":$LshBits,"cpus":${graft.Session.cores},"runs":[${results.mkString(",")}]}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
