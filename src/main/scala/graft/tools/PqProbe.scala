package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.ops.Pq

/** PQ scale probe: fit/encode cost, measured storage compression, ADC
  * serving latency, and recall vs exact L2 at [[VecScaleProbe]] sizes
  * (reuses its corpora). Recall is reported two ways: strict
  * recall@10 (PQ top-10 ∩ exact top-10) and the coarse-rank form
  * (PQ top-10 ∩ exact top-100) — 8-byte codes can't order near-ties
  * inside a cluster, and the pair of numbers shows exactly that.
  * Writes `PQ_SCALE.json`.
  *
  * Usage: sbt "runMain graft.tools.PqProbe [sizes] [outJson]"
  */
object PqProbe {

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("500000,2000000")
      .split(",").map(_.trim.toLong).toSeq
    val outJson = args.drop(1).headOption.getOrElse("PQ_SCALE.json")
    val m = args.lift(2).map(_.toInt).getOrElse(16)
    val k = args.lift(3).map(_.toInt).getOrElse(256)
    val rerankC = args.lift(4).map(_.toInt).getOrElse(1000)
    val baseDir = sys.env.getOrElse("VEC_SCALE_DIR", "/tmp/vec_scale")
    val nQueries = 64

    val spark = graft.Session("pq-probe")
    import spark.implicits._

    def du(path: String): Long = {
      def rec(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(rec).sum).getOrElse(0L)
      rec(new java.io.File(path))
    }

    val runs = sizes.map { n =>
      val dir = s"$baseDir/n$n"
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        VectorGenerator.write(spark, dir, n, nClusters = 100)
      val corpus = spark.read.parquet(s"$dir/embeddings.parquet")

      val tFit = System.nanoTime()
      val cb = Pq.fit(corpus, col("embedding"), Seq(col("vec_id")),
        m = m, k = k, iters = 2)
      val fitSec = (System.nanoTime() - tFit) / 1e9
      val tEnc = System.nanoTime()
      Pq.encode(corpus, col("embedding"), cb)
        .select(col("vec_id"), col("pq_code"))
        .write.mode("overwrite").parquet(s"$dir/pq_codes")
      val encSec = (System.nanoTime() - tEnc) / 1e9
      val rawBytes = du(s"$dir/embeddings.parquet")
      val codeBytes = du(s"$dir/pq_codes")
      val encoded = spark.read.parquet(s"$dir/pq_codes").cache()
      encoded.count()

      val qRows = corpus.filter(col("vec_id") < nQueries)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

      // exact L2 ground truth, one batched job (codegen'd dot products)
      val queries = qRows.toSeq.toDF("q_id", "q_emb")
      val tB = System.nanoTime()
      val truth = corpus.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"),
          (lit(2.0) * graft.functions.dot_product(col("embedding"), col("q_emb"))
            - graft.functions.dot_product(col("embedding"), col("embedding"))).as("s"),
          lpad(col("vec_id").cast("string"), 19, "0").as("key"))
        .groupBy("q_id")
        .agg(graft.functions.topk_by_score(col("s"), col("key"), 100).as("topk"))
        .select(col("q_id"), posexplode(col("topk")))
        .select(col("q_id"), col("pos"), col("col.key").cast("long").as("vec_id"))
        .collect()
      val bruteSec = (System.nanoTime() - tB) / 1e9
      val top10 = truth.filter(_.getInt(1) < 10)
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val top100 = truth.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }

      // ADC serving: 64 sequential single-query searches (the latency
      // shape — each is a map-side lookup scan + TakeOrdered)
      val tA = System.nanoTime()
      val got = qRows.map { case (qid, qe) =>
        qid -> Pq.search(encoded.filter(col("vec_id") =!= qid), col("vec_id"),
          cb, qe, 10)
          .select(col("vec_id")).as[Long].collect().toSet
      }.toMap
      val adcSec = (System.nanoTime() - tA) / 1e9

      // PQ-candidates + EXACT RERANK — the production serving chain:
      // ADC narrows 2M to rerankC candidate ids (a skinny id set),
      // only those C embeddings are fetched and exactly reranked
      val tR = System.nanoTime()
      val gotRerank = qRows.map { case (qid, qe) =>
        val qLit = typedlit(qe.toSeq)
        val cands = Pq.search(encoded.filter(col("vec_id") =!= qid),
          col("vec_id"), cb, qe, rerankC).select("vec_id")
        qid -> corpus.join(cands, Seq("vec_id"), "left_semi")
          .select(col("vec_id"),
            (lit(2.0) * graft.functions.dot_product(col("embedding"), qLit)
              - graft.functions.dot_product(col("embedding"), col("embedding"))).as("s"))
          .orderBy(col("s").desc, col("vec_id").asc).limit(10)
          .select(col("vec_id")).as[Long].collect().toSet
      }.toMap
      val rerankSec = (System.nanoTime() - tR) / 1e9

      def recall(gotSets: Map[Long, Set[Long]], truthSets: Map[Long, Set[Long]]): Double = {
        val per = truthSets.toSeq.map { case (q, t) =>
          gotSets.getOrElse(q, Set.empty).intersect(t).size.toDouble / 10.0 }
        per.sum / per.size
      }
      val r10 = recall(got, top10)
      val r100 = recall(got, top100)
      val rr10 = recall(gotRerank, top10)
      encoded.unpersist()
      println(f"[pq n=$n m=$m k=$k] fit=$fitSec%.1f s enc=$encSec%.1f s " +
        f"raw=${rawBytes / 1e6}%.0f MB codes=${codeBytes / 1e6}%.0f MB " +
        f"(${rawBytes.toDouble / codeBytes}%.0fx) adc64=$adcSec%.1f s " +
        f"(${adcSec / nQueries * 1000}%.0f ms/q) brute64=$bruteSec%.1f s " +
        f"recall@10=$r10%.3f in-top-100=$r100%.3f " +
        f"rerank$rerankC: recall@10=$rr10%.3f (${rerankSec / nQueries * 1000}%.0f ms/q)")
      s"""{"n":$n,"fit_sec":${f"$fitSec%.2f"},"encode_sec":${f"$encSec%.2f"},""" +
        s""""raw_bytes":$rawBytes,"code_bytes":$codeBytes,""" +
        s""""adc_64q_sec":${f"$adcSec%.2f"},"brute_64q_sec":${f"$bruteSec%.2f"},""" +
        s""""recall_at_10":${f"$r10%.4f"},"recall_in_top100":${f"$r100%.4f"},""" +
        s""""rerank_c":$rerankC,"rerank_64q_sec":${f"$rerankSec%.2f"},""" +
        s""""rerank_recall_at_10":${f"$rr10%.4f"}}"""
    }
    val json = s"""{"metric":"pq_scale","m":$m,"k":$k,"n_queries":$nQueries,""" +
      s""""runs":[${runs.mkString(",")}]}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
