package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.ops.{Ivf, Pq}

/** IVF-PQ composition probe — the full production vector-serving
  * triad over the pieces this engine already has:
  *
  *   1. IVF ROUTING: the persisted coarse quantizer picks nProbe of
  *      K cells (driver-side, K×dims);
  *   2. PQ SCORING: ADC lookups over the CELL-PARTITIONED code table
  *      — the scan is partition-pruned to nProbe/K of 16 B/vector
  *      codes, touching neither the other cells nor any raw vector;
  *   3. EXACT RERANK: the top-C ADC candidates (a skinny id set)
  *      fetch their full-precision vectors for the final top-10.
  *
  * Measures wall + recall@10 vs exact L2, against the same-C
  * full-corpus ADC chain (PqProbe) as the unrouted baseline.
  * Writes `IVFPQ.json`.
  *
  * Usage: sbt "runMain graft.tools.IvfPqProbe [n] [nProbe] [C] [outJson]"
  */
object IvfPqProbe {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nProbe = args.lift(1).map(_.toInt).getOrElse(16)
    val rerankC = args.lift(2).map(_.toInt).getOrElse(4000)
    val outJson = args.lift(3).getOrElse("IVFPQ.json")
    // arg 4 flags (`+`-joined): "res" = IVFADC — PQ trained on and
    // encoding residuals (vector − cell centroid), per-cell query
    // LUTs at serve time, same m×k budget; "batch" = serve all 64
    // queries in ONE Ivf.searchPqBatch plan (distributed routing +
    // LUT-as-data) instead of the per-query driver loop.
    val flags = args.lift(4).map(_.split("\\+").toSet).getOrElse(Set.empty)
    val residual = flags.contains("res")
    val batchServe = flags.contains("batch")
    val dir = s"${sys.env.getOrElse("VEC_SCALE_DIR", "/tmp/vec_scale")}/n$n"
    val nQueries = 64

    val spark = graft.Session("ivfpq-probe")
    import spark.implicits._

    if (!new java.io.File(s"$dir/embeddings.parquet").exists())
      VectorGenerator.write(spark, dir, n, nClusters = 100)
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val centers =
      if (new java.io.File(s"$dir/quantizer").exists()) Ivf.load(spark, s"$dir/quantizer")
      else {
        val c = Ivf.fit(corpus, col("embedding"), Seq(col("vec_id")),
          k = VecScaleProbe.KCells, iters = 2)
        Ivf.save(spark, c, s"$dir/quantizer"); c
      }

    // PQ codebooks + the CELL-PARTITIONED code table (one pass:
    // IVF cell + PQ code per row, codes laid out for partition pruning).
    // Residual mode fits/encodes vector − cell centroid instead.
    val suffix = if (residual) "_res" else ""
    // loop mode scans a codes-only table; batch mode reads the full
    // PQ-augmented index (embedding + pq_code — column pruning keeps
    // the ADC stage codes-sized, rerank fetches the vectors in place)
    val codesDir = s"$dir/ivfpq_codes$suffix"
    val codesDirWithEmb = s"$dir/ivfpq_index$suffix"
    val assigned = Ivf.assign(corpus, col("embedding"), centers)
    val embOrRes =
      if (residual) Pq.residual(col("embedding"), col("cell"), centers)
      else col("embedding")
    val tBuild = System.nanoTime()
    val cb = Pq.fit(assigned, embOrRes, Seq(col("vec_id")),
      m = 16, k = 256, iters = 2)
    if (batchServe)
      Ivf.writeIndexPq(corpus.select("vec_id", "embedding"), col("embedding"),
        col("vec_id"), centers, cb, codesDirWithEmb, residual = residual)
    else
      Pq.encode(assigned, embOrRes, cb)
        .select(col("vec_id"), col("cell"), col("pq_code"))
        .repartition(32, col("cell"), pmod(hash(col("vec_id")), lit(4)))
        .write.mode("overwrite").partitionBy("cell").parquet(codesDir)
    val buildSec = (System.nanoTime() - tBuild) / 1e9

    val qRows = corpus.filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

    // exact L2 top-10 ground truth (one batched job)
    val queries = qRows.toSeq.toDF("q_id", "q_emb")
    val truth = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        (lit(2.0) * graft.functions.dot_product(col("embedding"), col("q_emb"))
          - graft.functions.dot_product(col("embedding"), col("embedding"))).as("s"),
        lpad(col("vec_id").cast("string"), 19, "0").as("key"))
      .groupBy("q_id")
      .agg(graft.functions.topk_by_score(col("s"), col("key"), 10).as("topk"))
      .select(col("q_id"), explode(col("topk")).as("e"))
      .select(col("q_id"), col("e.key").cast("long").as("vec_id"))
      .collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    // IVF-PQ serving: one batch plan, or the per-query loop
    val tServe = System.nanoTime()
    val got: Map[Long, Set[Long]] = if (batchServe) {
      Ivf.searchPqBatch(spark, codesDirWithEmb, centers, cb, queries,
          nProbe, rerankC, topK = 10, residual = residual, excludeSelf = true,
          metric = "l2")
        .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    } else qRows.map { case (qid, qe) =>
      val cells = Ivf.nearestCells(centers, qe.map(_.toDouble), nProbe)
      val codes = spark.read.parquet(codesDir)
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*) &&
          col("vec_id") =!= qid)
      val dist =
        if (residual) Pq.adcDistSqPerCell(col("pq_code"), col("cell"),
          Pq.residualLuts(cb, centers, qe.map(_.toDouble), cells.toSeq))
        else Pq.adcDistSq(col("pq_code"), Pq.lutL2(cb, qe.map(_.toDouble)))
      val cands = codes
        .select(col("vec_id"), dist.as("d"))
        .orderBy(col("d").asc, col("vec_id").asc).limit(rerankC)
        .select("vec_id")
      val qLit = typedlit(qe.toSeq)
      qid -> corpus.join(cands, Seq("vec_id"), "left_semi")
        .select(col("vec_id"),
          (lit(2.0) * graft.functions.dot_product(col("embedding"), qLit)
            - graft.functions.dot_product(col("embedding"), col("embedding"))).as("s"))
        .orderBy(col("s").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id")).as[Long].collect().toSet
    }.toMap
    val serveSec = (System.nanoTime() - tServe) / 1e9

    val per = truth.toSeq.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
    val recall = per.sum / per.size
    println(f"[ivfpq n=$n nProbe=$nProbe/${VecScaleProbe.KCells} C=$rerankC " +
      f"residual=$residual batch=$batchServe] build=$buildSec%.1f s " +
      f"serve64=$serveSec%.1f s " +
      f"(${serveSec / nQueries * 1000}%.0f ms/q) recall@10=$recall%.4f")
    val json = s"""{"metric":"ivfpq","n":$n,"k_cells":${VecScaleProbe.KCells},""" +
      s""""n_probe":$nProbe,"m":16,"k":256,"rerank_c":$rerankC,""" +
      s""""residual":$residual,"batch":$batchServe,""" +
      s""""build_sec":${f"$buildSec%.2f"},"serve_64q_sec":${f"$serveSec%.2f"},""" +
      s""""recall_at_10":${f"$recall%.4f"}}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
