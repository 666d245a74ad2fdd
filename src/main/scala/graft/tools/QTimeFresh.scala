package graft.tools

/** [[QTime]] variant that times each rep in a FRESH child session
  * (`spark.newSession()`): [[graft.ops.Memo]] keys on session
  * identity, so session-memoized stages (quality fit, BPE merges, the
  * CC assignment, RAG chunk/dense/center stages) recompute every rep —
  * this measures the FIRST-TOUCH cost the bench actually pays, which
  * plain QTime cannot see after its warm-up fills the memo.
  *
  * Usage: `sbt "runMain graft.tools.QTimeFresh <iters> <query> [query...]"`
  * (SPARK_GRAFT_SF_DIR selects scale, default sf0.1).
  */
object QTimeFresh {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = args.headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: QTimeFresh <iters> <query> [query...]")
    val spark = graft.Session("graft-qtime-fresh")

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // one discarded warm-up (fresh session too) pays IO/JIT first-touch
      fn(spark.newSession(), dir).queryExecution.toRdd.count()
      spark.sharedState.cacheManager.clearCache(); System.gc()
      val ts = (1 to iters).map { _ =>
        val sess = spark.newSession()
        val t0 = System.nanoTime()
        fn(sess, dir).queryExecution.toRdd.count()
        val s = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache(); System.gc()
        s
      }
      println(f"$n%-24s median ${median(ts)}%.3f s  runs ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
