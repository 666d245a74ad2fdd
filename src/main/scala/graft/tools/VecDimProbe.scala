package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.ops.{Ivf, Pq}

/** Real-embedding-width ANN validation (VERDICT r6 "next round" #6):
  * every prior vector artifact (VEC_SCALE, PQ_SCALE, IVFPQ) is d=64;
  * production embedding widths are 768–4096, which stresses exactly
  * the places a narrow probe cannot see:
  *
  *   - [[Ivf.fit]]'s per-iteration mean aggregation is ONE groupBy
  *     with `dims` decimal-sum columns — at d=768 that is a 1,536-
  *     expression aggregate, past Spark's whole-stage-codegen method
  *     budget (fallback to interpreted eval is silent; only the wall
  *     shows it);
  *   - the [[graft.functions.NearestCentroid]] centroid table rides
  *     every task as a K×dims reference object (256×768 doubles =
  *     1.5 MB per closure vs 128 KB at d=64);
  *   - brute/IVF serving cost scales linearly in dims, recall must
  *     NOT degrade (the planted-cluster geometry is dimension-free);
  *   - PQ at real width means m=96 subspaces (sub=8) × k=256
  *     codebooks: fit is the fused one-pass-per-iteration spelling
  *     (the per-subspace form is ~290 sequential corpus scans at
  *     m=96) and encode is a 96-branch codegen'd projection — walls,
  *     recall, and the compression claim all need re-measuring where
  *     the code array is 96 ints.
  *
  * Measures, at one (n, dims) point: fit wall, index write wall,
  * brute batch (64 queries, ground truth), IVF batch recall@10,
  * single-query brute vs pruned-probe serving, PQ fit/encode walls,
  * compression ratio, and ADC→exact-rerank recall@10 on 16 queries.
  * Writes `VEC_DIM768.json`; PERF.md reads it.
  *
  * Usage: sbt "runMain graft.tools.VecDimProbe [n] [dims] [outJson]"
  */
object VecDimProbe {

  val KCells = 256
  val NProbe = 8
  val NQueries = 64
  val NClusters = 100

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val dims = args.lift(1).map(_.toInt).getOrElse(768)
    val outJson = args.lift(2).getOrElse("VEC_DIM768.json")
    val pqM = dims / 8 // sub=8, the d=64 probes' granularity at real width
    // 8-bit subquantizers (PQ's standard rate, 1 bit/dim at sub=8):
    // the first run of this probe used the d=64 probes' k=16 and
    // measured recall@10 = 0.37 — 0.5 bit/dim does not survive d=768
    val pqK = args.lift(3).map(_.toInt).getOrElse(256)
    val rerankC = 1000
    val dir = sys.env.getOrElse("VEC_DIM_DIR", s"/tmp/vec_dim/n${n}_d$dims")

    // 1.5 GB over 32 files coalesces to ~12 input partitions at the
    // default 128 MB split — a 32-core box runs the map-side fit /
    // encode at 12-wide with maxTask ≈ wall. 32 MB splits restore
    // full width locally; on a real cluster the default is right
    // (the corpus is many files ≫ cores).
    val spark = graft.Session("vec-dim-probe",
      "spark.sql.files.maxPartitionBytes" -> s"${32 * 1024 * 1024}")
    import spark.implicits._
    val listener = StageMeter.install(spark)

    def timed[T](tag: String)(body: => T): (T, Double) = {
      listener.reset()
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      listener.drain()
      println(f"[d=$dims n=$n] $tag%-14s $sec%8.1f s  maxTaskMs=${listener.maxTaskMs} " +
        f"failed=${listener.failedTasks}")
      (r, sec)
    }

    val (_, genSec) = timed("generate") {
      VectorGenerator.write(spark, dir, n, NClusters, dims = dims)
    }
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")

    val (centers, fitSec) = timed("ivf_fit") {
      Ivf.fit(corpus, col("embedding"), Seq(col("vec_id")),
        k = KCells, iters = 2, dims = dims)
    }
    val centroidBytes = KCells.toLong * dims * 8
    val (_, idxSec) = timed("write_index") {
      Ivf.writeIndex(corpus, col("embedding"), col("vec_id"), centers, s"$dir/index")
    }

    // sorted: collect() order is partition order, and the PQ legs
    // take a 16-query prefix — an unsorted prefix would silently
    // change the query subset whenever the split size changes
    val qRows = corpus.filter(col("vec_id") < NQueries)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    val queries = qRows.toSeq.toDF("q_id", "q_emb")

    def topkOf(candidates: DataFrame): DataFrame =
      candidates
        .select(col("q_id"),
          graft.functions.cosine_sim(col("embedding"), col("q_emb")).as("s"),
          lpad(col("vec_id").cast("string"), 19, "0").as("key"))
        .groupBy("q_id")
        .agg(graft.functions.topk_by_score(col("s"), col("key"), 10).as("topk"))
        .select(col("q_id"), explode(col("topk")).as("e"))
        .select(col("q_id"), col("e.key").cast("long").as("vec_id"))

    def sets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }

    def recall(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double = {
      val per = truth.toSeq.map { case (q, t) =>
        if (t.isEmpty) 1.0
        else got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }

    // 1. brute force = ground truth + the baseline wall
    val (truthRows, bruteSec) = timed("brute_batch") {
      topkOf(corpus.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))).collect()
    }
    val bruteMaxTask = listener.maxTaskMs
    val truth = sets(truthRows)

    // 2. IVF batch through the built quantizer
    val probeDf = qRows.toSeq.flatMap { case (q, e) =>
      Ivf.nearestCells(centers, e.map(_.toDouble), NProbe).map(c => (q, c, e))
    }.toDF("q_id", "cell", "q_emb")
    val idx = spark.read.parquet(s"$dir/index")
    val (ivfRows, ivfSec) = timed("ivf_batch") {
      topkOf(idx.join(broadcast(probeDf), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))).collect()
    }
    val ivfMaxTask = listener.maxTaskMs
    val ivfRecall = recall(sets(ivfRows), truth)

    // 3. single-query serving shape
    val q0 = qRows.head._2
    val (_, bruteSingle) = timed("brute_single") {
      corpus.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          graft.functions.cosine_sim(col("embedding"), typedlit(q0.toSeq)).as("s"))
        .orderBy(col("s").desc, col("vec_id").asc).limit(10).collect()
    }
    val (_, ivfSingle) = timed("ivf_single") {
      Ivf.search(spark, s"$dir/index", centers, q0, NProbe, 10).collect()
    }

    // 4. PQ at real width: m=dims/8 subspaces. Fit is m sequential
    //    Ivf.fits over slices — cache the corpus so the 3m jobs rescan
    //    memory, not parquet.
    corpus.cache().count()
    val (cb, pqFitSec) = timed("pq_fit") {
      Pq.fit(corpus, col("embedding"), Seq(col("vec_id")),
        m = pqM, dims = dims, k = pqK, iters = 2)
    }
    val (_, pqEncSec) = timed("pq_encode") {
      Pq.encode(corpus, col("embedding"), cb)
        .select(col("vec_id"), col("pq_code"))
        .write.mode("overwrite").parquet(s"$dir/pq_codes")
    }
    def du(path: String): Long = {
      def rec(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(rec).sum).getOrElse(0L)
      rec(new java.io.File(path))
    }
    val rawBytes = du(s"$dir/embeddings.parquet")
    val codeBytes = du(s"$dir/pq_codes")
    val encoded = spark.read.parquet(s"$dir/pq_codes").cache()
    encoded.count()

    // ADC candidates → exact rerank, 16 queries (the serving chain),
    // at two candidate budgets: ADC at 64× compression cannot order
    // within-cluster near-ties, so recall@10 is a function of HOW MANY
    // candidates the exact rerank re-scores — the pair of numbers
    // shows the knob
    val pqQ = qRows.take(16)
    def rerankLeg(c: Int): (Map[Long, Set[Long]], Double) = timed(s"pq_rerank16_c$c") {
      pqQ.map { case (qid, qe) =>
        val cands = Pq.search(encoded.filter(col("vec_id") =!= qid),
          col("vec_id"), cb, qe, c).select("vec_id")
        qid -> corpus.join(cands, Seq("vec_id"), "left_semi")
          .select(col("vec_id"),
            graft.functions.cosine_sim(col("embedding"), typedlit(qe.toSeq)).as("s"))
          .orderBy(col("s").desc, col("vec_id").asc).limit(10)
          .select(col("vec_id")).as[Long].collect().toSet
      }.toMap
    }
    val (gotRerank, rerankSec) = rerankLeg(rerankC)
    val rerankC2 = rerankC * 4
    val (gotRerank2, rerankSec2) = rerankLeg(rerankC2)
    def pqRecallOf(got: Map[Long, Set[Long]]): Double =
      recall(got, truth.view.filterKeys(got.contains).toMap)
    val pqRecall = pqRecallOf(gotRerank)
    val pqRecall2 = pqRecallOf(gotRerank2)
    encoded.unpersist()

    // 5. residual IVFADC at real width — the production serving path
    //    (writeIndexPq + searchPqBatch, PQ trained on vector − cell
    //    centroid, per-cell query LUTs as data). Same m×k budget as
    //    leg 4; cosine rerank for consistency with the legs above.
    val (cbRes, pqResFitSec) = timed("pq_res_fit") {
      val assigned = Ivf.assign(corpus, col("embedding"), centers)
      Pq.fit(assigned, Pq.residual(col("embedding"), col("cell"), centers),
        Seq(col("vec_id")), m = pqM, dims = dims, k = pqK, iters = 2)
    }
    val (_, idxPqSec) = timed("ivfadc_index") {
      Ivf.writeIndexPq(corpus, col("embedding"), col("vec_id"), centers,
        cbRes, s"$dir/ivfadc_index", residual = true)
    }
    val q16 = pqQ.toSeq.toDF("q_id", "q_emb")
    def ivfadcLeg(c: Int): (Map[Long, Set[Long]], Double) = timed(s"ivfadc16_c$c") {
      Ivf.searchPqBatch(spark, s"$dir/ivfadc_index", centers, cbRes, q16,
          NProbe, c, topK = 10, residual = true, excludeSelf = true)
        .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (qv, rs) => qv -> rs.map(_._2).toSet }
    }
    val (gotAdc, adcSec) = ivfadcLeg(rerankC)
    val rerankCQ = rerankC / 4
    val (gotAdc2, adcSec2) = ivfadcLeg(rerankCQ)
    val adcRecall = pqRecallOf(gotAdc)
    val adcRecall2 = pqRecallOf(gotAdc2)
    corpus.unpersist()

    println(f"[d=$dims n=$n] recall@10 ivf=$ivfRecall%.3f " +
      f"pq_rerank(c=$rerankC)=$pqRecall%.3f (c=$rerankC2)=$pqRecall2%.3f " +
      f"ivfadc(c=$rerankC)=$adcRecall%.3f (c=$rerankCQ)=$adcRecall2%.3f " +
      f"single brute=$bruteSingle%.2f s ivf=$ivfSingle%.2f s " +
      f"compression=${rawBytes.toDouble / codeBytes}%.1fx")
    val json = s"""{"metric":"vec_dim","n":$n,"dims":$dims,"k_cells":$KCells,""" +
      s""""n_probe":$NProbe,"n_queries":$NQueries,"clusters":$NClusters,""" +
      s""""centroid_ref_bytes":$centroidBytes,"cpus":${graft.Session.cores},""" +
      s""""gen_sec":${f"$genSec%.2f"},"fit_sec":${f"$fitSec%.2f"},""" +
      s""""index_sec":${f"$idxSec%.2f"},""" +
      s""""brute_batch_sec":${f"$bruteSec%.2f"},"brute_max_task_ms":$bruteMaxTask,""" +
      s""""ivf_batch_sec":${f"$ivfSec%.2f"},"ivf_max_task_ms":$ivfMaxTask,""" +
      s""""ivf_recall_at_10":${f"$ivfRecall%.4f"},""" +
      s""""brute_single_sec":${f"$bruteSingle%.3f"},""" +
      s""""ivf_single_sec":${f"$ivfSingle%.3f"},""" +
      s""""pq_m":$pqM,"pq_k":$pqK,"pq_fit_sec":${f"$pqFitSec%.2f"},""" +
      s""""pq_encode_sec":${f"$pqEncSec%.2f"},""" +
      s""""raw_bytes":$rawBytes,"code_bytes":$codeBytes,""" +
      s""""pq_rerank_c":$rerankC,"pq_rerank_16q_sec":${f"$rerankSec%.2f"},""" +
      s""""pq_rerank_recall_at_10":${f"$pqRecall%.4f"},""" +
      s""""pq_rerank_c2":$rerankC2,"pq_rerank_16q_sec_c2":${f"$rerankSec2%.2f"},""" +
      s""""pq_rerank_recall_at_10_c2":${f"$pqRecall2%.4f"},""" +
      s""""ivfadc_fit_sec":${f"$pqResFitSec%.2f"},""" +
      s""""ivfadc_index_sec":${f"$idxPqSec%.2f"},""" +
      s""""ivfadc_rerank_c":$rerankC,"ivfadc_16q_sec":${f"$adcSec%.2f"},""" +
      s""""ivfadc_recall_at_10":${f"$adcRecall%.4f"},""" +
      s""""ivfadc_rerank_c2":$rerankCQ,"ivfadc_16q_sec_c2":${f"$adcSec2%.2f"},""" +
      s""""ivfadc_recall_at_10_c2":${f"$adcRecall2%.4f"}}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
