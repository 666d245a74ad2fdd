package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** Stage-level timing for the fused corpus pipeline: where do the
  * seconds of q_corpus_pipeline actually go? Times (3-rep medians,
  * QTime's regime) the fused feature-scan materialization alone, the
  * cluster-assignment stage off a pre-materialized feature cache, the
  * decontamination stage, and the full composed query — so a bench
  * movement can be attributed to a stage instead of guessed at.
  *
  * Usage: `sbt "runMain graft.tools.CorpusStageProbe [iters]"`
  * (SPARK_GRAFT_SF_DIR selects scale, default sf0.1).
  */
object CorpusStageProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Session("graft-corpus-stage-probe")

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def timed(name: String)(body: => Unit): Double = {
      body // warm-up, discarded
      spark.sharedState.cacheManager.clearCache(); System.gc()
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        body
        val s = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache(); System.gc()
        s
      }
      println(f"$name%-28s median ${median(ts)}%.3f s  runs ${ts.map(t => f"$t%.3f").mkString(" ")}")
      median(ts)
    }

    timed("feats_full (withRep)") {
      TextOps.corpusFeatures(spark, dir).queryExecution.toRdd.count()
    }
    timed("feats_norep") {
      TextOps.corpusFeatures(spark, dir, withRep = false).queryExecution.toRdd.count()
    }
    timed("cluster_assign_of_feats") {
      val feats = TextOps.corpusFeatures(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      feats.count()
      val t0 = System.nanoTime()
      TextOps.clusterAssignmentsOfFeatures(feats).queryExecution.toRdd.count()
      println(f"    (assign alone, feats pre-cached: ${(System.nanoTime() - t0) / 1e9}%.3f s)")
      feats.unpersist(true)
    }
    timed("decontaminate_of_feats") {
      val feats = TextOps.corpusFeatures(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      feats.count()
      val t0 = System.nanoTime()
      val shingled = feats.select(col("doc_id"), explode(col("hsh")).as("h"))
      shingled.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(shingled.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("eval_id"), col("h"))), Seq("h"))
        .groupBy(col("doc_id"), col("eval_id"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
        .select(col("doc_id")).distinct()
        .queryExecution.toRdd.count()
      println(f"    (decontam alone, feats pre-cached: ${(System.nanoTime() - t0) / 1e9}%.3f s)")
      feats.unpersist(true)
    }
    timed("full q_corpus_pipeline") {
      graft.SparkEntry.queries("q_corpus_pipeline")(spark, dir)
        .queryExecution.toRdd.count()
    }
    spark.stop()
  }
}
