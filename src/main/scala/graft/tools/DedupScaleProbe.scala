package graft.tools

import java.nio.file.{Files, Paths}

/** Scaling-curve harness for the dedup pipeline (VERDICT r3 "next
  * round" #1): generates [[CorpusGenerator]] corpora at multiples of
  * the sf0.1 documents table (5k docs) and runs the north-star chain —
  * q_dedup_exact → q_minhash_dedup → q_dedup_clusters →
  * q_corpus_select_dedup — at each size, recording wall time, output
  * rows, shuffle/spill bytes, and the max single-task time per stage.
  * Writes `DEDUP_SCALE.json`; PERF.md reads the curve.
  *
  * Method matches the reference's staged-load testing
  * (stress_test.py:20-28) applied to batch dedup: same operators the
  * correctness gate checks, driven at growing scale, with the failure
  * criteria being task failure/OOM or a super-linear wall-time curve.
  *
  * Usage:
  *   sbt "runMain graft.tools.DedupScaleProbe [scales] [outJson]"
  * scales default "10,30,100" (× sf0.1 = 50k/150k/500k docs).
  */
object DedupScaleProbe {

  val Stages = Seq("q_dedup_exact", "q_minhash_dedup", "q_dedup_clusters",
    "q_corpus_select_dedup")

  def main(args: Array[String]): Unit = {
    val scales = args.headOption.getOrElse("10,30,100")
      .split(",").map(_.trim.toInt).toSeq
    val outJson = args.drop(1).headOption.getOrElse("DEDUP_SCALE.json")
    val baseDocs = 5000L // sf0.1 documents row count
    val baseDir = sys.env.getOrElse("DEDUP_SCALE_DIR", "/tmp/dedup_scale")

    val spark = graft.Session("dedup-scale-probe")
    val listener = StageMeter.install(spark)

    val results = scales.map { scale =>
      val nDocs = baseDocs * scale
      val dir = s"$baseDir/x$scale"
      val tGen0 = System.nanoTime()
      CorpusGenerator.write(spark, dir, nDocs)
      val genSec = (System.nanoTime() - tGen0) / 1e9
      println(f"[scale x$scale] generated $nDocs docs in $genSec%.1f s")

      def timed(name: String)(df: => org.apache.spark.sql.DataFrame): String = {
        listener.reset()
        val t0 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        listener.drain()
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        println(f"[scale x$scale] $name%-24s $sec%8.1f s  rows=$rows%-9d " +
          f"spillMB=${listener.spillBytes / 1e6}%.0f shufMB=${listener.shuffleWriteBytes / 1e6}%.0f " +
          f"maxTaskMs=${listener.maxTaskMs} failed=${listener.failedTasks}")
        s""""$name":{"sec":${f"$sec%.3f"},"rows":$rows,"spill_bytes":${listener.spillBytes},""" +
          s""""shuffle_write_bytes":${listener.shuffleWriteBytes},"max_task_ms":${listener.maxTaskMs},""" +
          s""""failed_tasks":${listener.failedTasks}}"""
      }
      val declared = Stages.map(q => timed(q)(graft.SparkEntry.queries(q)(spark, dir)))
      // the hot-bucket-capped production form of the LSH pair stage —
      // measures the straggler the cap removes (PERF.md round-4 log)
      val capped = timed("minhash_capped64")(
        graft.ops.TextOps.minhashPairsOf(
          graft.io.Tables.documents(spark, dir), maxBucket = Some(64)))
      val stageJson = (declared :+ capped).mkString(",")
      s"""{"scale":$scale,"docs":$nDocs,"gen_sec":${f"$genSec%.2f"},"stages":{$stageJson}}"""
    }

    val json = s"""{"metric":"dedup_scale","base_docs":$baseDocs,"cpus":${graft.Session.cores},""" +
      s""""runs":[${results.mkString(",")}]}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
