package graft.tools

/** Generic per-query timing tool: runs each named declared query N
  * times in one JVM (Bench's execution shape: `toRdd.count`, cache
  * clear + GC between runs, outside the timed region) and prints
  * per-run times + the median. The medians quoted in PERF.md for
  * single-query claims come from here.
  *
  * Usage: `sbt "runMain graft.tools.QTime <iters> <query> [query...]"`
  * (SPARK_GRAFT_SF_DIR selects scale, default sf0.1).
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = args.headOption.map(_.toInt).getOrElse(5)
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: QTime <iters> <query> [query...]")
    val spark = graft.Session("graft-qtime")

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warm-up, discarded
      fn(spark, dir).queryExecution.toRdd.count()
      spark.sharedState.cacheManager.clearCache(); System.gc()
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).queryExecution.toRdd.count()
        val s = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache(); System.gc()
        s
      }
      println(f"$n%-24s median ${median(ts)}%.3f s  runs ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
