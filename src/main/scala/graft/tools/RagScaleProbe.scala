package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.ops.{Ivf, Rag}

/** Stage-attributed scale probe for the q_rag_pipeline composition
  * (VERDICT r16 #4: "a stage-attributed scale probe point at 1M
  * chunks"): CorpusGenerator corpora at 1×/3×/10× of an 80k-doc base
  * (~100k → ~1M chunks at the generator's 10–100-token docs), each
  * arm running the DECLARED chain stage by stage —
  *
  *   chunk   : tokenize + sliding-window chunk frame (checkpointed);
  *   embed   : per-chunk hashed tf-idf skinny → dense float[64]
  *             (checkpointed — the index corpus);
  *   ivf_fit : k-means quantizer build (RagCells, RagIters);
  *   serve   : hybrid serving of a FIXED 64-query batch (queryMod
  *             scales with the corpus so the query count stays ~64 —
  *             production serves "Q queries against a corpus"; the
  *             declared query's corpus/100 frame would conflate
  *             corpus growth with batch growth).
  *
  * Wall + shuffle bytes per stage per arm; per-unit verdict between
  * consecutive arms (the PIPELINE_SCALE thresholds: shuffle per-unit
  * > 1.2 with the smaller arm > 20 MB, wall per-unit > 1.25 with the
  * smaller arm > 1.5 s). Writes `RAG_SCALE.json`.
  *
  * Usage: sbt "runMain graft.tools.RagScaleProbe [baseDocs] [outJson] [scales]"
  *   scales default "1,3,10"; "1,3,10,30" adds the second-decade arm
  *   (~3.9M chunks at the default base).
  */
object RagScaleProbe {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.map(_.toLong).getOrElse(80000L)
    val outJson = args.drop(1).headOption.getOrElse("RAG_SCALE.json")
    val scales = args.drop(2).headOption
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 3, 10))
    val root = sys.env.getOrElse("RAG_SCALE_DIR", "/tmp/rag_scale")

    val spark = graft.Session("rag-scale-probe")
    val listener = StageMeter.install(spark)

    def staged[A](tag: String, s: Int)(body: => A): (A, String, Long, Double) = {
      listener.reset()
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      listener.drain()
      val by = listener.shuffleWriteBytes
      println(f"[s=$s] $tag%-8s $sec%7.1f s  shufMB=${by / 1e6}%.1f " +
        f"maxTaskMs=${listener.maxTaskMs} failed=${listener.failedTasks}")
      (out,
        f"""{"stage":"$tag","sec":$sec%.2f,"shuffle_bytes":$by,""" +
          s""""max_task_ms":${listener.maxTaskMs},""" +
          s""""failed_tasks":${listener.failedTasks}}""", by, sec)
    }

    val results = scales.map { s =>
      val n = base * s
      val dir = s"$root/s$s"
      if (!new java.io.File(s"$dir/documents.parquet").exists())
        CorpusGenerator.write(spark, dir, n)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, String)]
      def run[A](tag: String)(body: => A): A = {
        val (out, json, by, sec) = staged(tag, s)(body)
        stages += ((tag, by, sec, json)); out
      }
      val chunks = run("chunk")(Rag.chunkFrame(docs).localCheckpoint(true))
      val nChunks = chunks.count()
      val dense = run("embed")(Rag.denseOf(chunks).localCheckpoint(true))
      val centers = run("ivf_fit")(
        Ivf.fit(dense, col("embedding"), Seq(col("doc_id"), col("chunk_idx")),
          k = Rag.RagCells, iters = Rag.RagIters))
      // fixed ~64-query batch at every arm
      val queryMod = math.max(n / 64, 1L)
      val served = run("serve")(
        Rag.serveOf(chunks, dense, centers, queryMod = queryMod).count())
      // PERSISTED-INDEX serving leg (VERDICT r17 #2): the path a
      // streamed-append index serves through — write the chunk index,
      // then route the same query batch merge-on-read via readIndex.
      // RagSpec pins its equality with the session-frame leg; this
      // measures that the on-disk leg SCALES like the in-session one.
      val idxDir = s"$dir/index"
      run("index_write")(Rag.writeChunkIndex(dense, centers, idxDir))
      val servedIdx = run("serve_indexed")(
        Rag.semServeIndexed(spark, idxDir, centers, chunks,
          Rag.dfTableOf(chunks), nChunks, queryMod).count())
      require(servedIdx > 0, s"s=$s: indexed serving returned no rows")
      println(f"[s=$s] docs=$n chunks=$nChunks served_rows=$served " +
        f"served_indexed=$servedIdx")
      val out = (s, n, nChunks, served, stages.toSeq)
      // release this arm's checkpoint blocks before the next arm
      chunks.unpersist(false); dense.unpersist(false)
      spark.sharedState.cacheManager.clearCache()
      out
    }

    val stageNames = results.head._5.map(_._1)
    val verdicts = stageNames.map { name =>
      def at(r: (Int, Long, Long, Long, Seq[(String, Long, Double, String)])) =
        r._5.find(_._1 == name).get
      val flags = results.sliding(2).flatMap {
        case Seq(a, b) =>
          val (_, byA, secA, _) = at(a)
          val (_, byB, secB, _) = at(b)
          val ratio = b._1.toDouble / a._1
          val shufUnit = (byB / ratio) / math.max(byA.toDouble, 1.0)
          val wallUnit = (secB / ratio) / math.max(secA, 1e-9)
          Seq(
            (byA / 1048576.0 > 20 && shufUnit > 1.2) ->
              f"shuffle_unit_${a._1}xto${b._1}x=$shufUnit%.2f",
            (secA > 1.5 && wallUnit > 1.25) ->
              f"wall_unit_${a._1}xto${b._1}x=$wallUnit%.2f")
        case _ => Nil
      }.filter(_._1).map(_._2).toSeq
      val v = if (flags.isEmpty) "linear-or-better"
        else s"SUPERLINEAR: ${flags.mkString(", ")}"
      s""""$name":"$v""""
    }
    val runsJson = results.map { case (s, n, nChunks, served, stages) =>
      s"""{"scale":$s,"docs":$n,"chunks":$nChunks,"served_rows":$served,""" +
        s""""stages":[${stages.map(_._4).mkString(",")}]}"""
    }
    val json = s"""{"metric":"rag_scale","base_docs":$base,""" +
      s""""rag_cells":${Rag.RagCells},"n_probe":${Rag.RagProbe},""" +
      s""""query_budget":64,"cpus":${graft.Session.cores},""" +
      s""""heap_gb":${Runtime.getRuntime.maxMemory / 1073741824},""" +
      s""""verdict":{${verdicts.mkString(",")}},""" +
      s""""runs":[${runsJson.mkString(",")}]}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
