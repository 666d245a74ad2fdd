package graft.tools

/** Dump formatted physical plans for selected declared queries —
  * the `.explain("formatted")` review loop the perf work rides on. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q_filter_ops", "q_enrich_join", "q_multi_join",
        "q_tumbling_count", "q_similarity_topk")
    val spark = graft.Session("graft-plan-dump")
    names.foreach { n =>
      println(s"\n===== $n =====")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
