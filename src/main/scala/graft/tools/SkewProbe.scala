package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Straggler measurement for the salted-join machinery (VERDICT r3
  * "next round" #4): materializes a hub-skewed fact table to parquet
  * (the sf0.1 events table replicated `rep`× with ~30% of rows
  * remapped onto ONE user — the PERF.md §7c hub shape, written as 32
  * files so scan tasks are uniform), then runs the q_skew_join
  * aggregation both UNSALTED and SALTED over a non-broadcast
  * (merge-pinned) join, and records wall time + the max single-task
  * time of each. Materializing first matters: timed in-line, the
  * single-file source scan is one giant task in BOTH forms and buries
  * the join straggler the probe exists to expose. The salted form
  * spreads the hub over (key, salt) reducers, so its max task sits
  * near the mean while the unsalted max task carries the whole hub.
  * AQE's skew-join split is DISABLED here on the unsalted side's
  * behalf — the probe measures the failure mode salting exists for
  * (the joins AQE cannot split: stream-static joins, skew introduced
  * upstream of the exchange); with AQE skew handling on, Spark rescues
  * the unsalted form at this scale, which is exactly why the default
  * path relies on AQE first and explicit salt second.
  *
  * Writes SKEW_PROBE.json. Usage:
  *   sbt "runMain graft.tools.SkewProbe [rep] [saltBuckets]"
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(100)
    val saltBuckets = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val root = Files.createTempDirectory("graft_skew").toString
    // measure the raw skew, not AQE's rescue of it (see scaladoc)
    val spark = graft.Session("skew-probe",
      "spark.sql.adaptive.skewJoin.enabled" -> "false")
    val listener = StageMeter.install(spark)

    // hub fact: rep copies of events, ~30% of rows on user 7 —
    // materialized as 32 uniform files so the timed queries below
    // scan in parallel and the join stage dominates task times
    graft.io.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .crossJoin(broadcast(spark.range(rep).select(col("id").as("rep_id"))))
      .withColumn("event_id", col("event_id") * rep + col("rep_id"))
      .withColumn("uid",
        when(pmod(col("event_id"), lit(10)) < 3, lit(7L))
          .otherwise(col("user_id")))
      .drop("rep_id")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$root/fact")
    val ev = spark.read.parquet(s"$root/fact")
    val factRows = ev.count()   // the artifact reports measured rows, not an sf0.1 assumption
    val cust = graft.io.Tables.dim(spark, dir, "customer",
      "c_custkey", "c_mktsegment")

    def agg(joined: org.apache.spark.sql.DataFrame) = joined
      .groupBy(coalesce(col("c_mktsegment"), lit("unmatched")).as("seg"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))

    def timed(name: String)(df: => org.apache.spark.sql.DataFrame)
        : (Double, Long, Long) = {
      // warm-up discarded, then median-of-3
      val runs = (0 to 3).map { _ =>
        listener.reset()
        val t0 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        // drain async task-end events — the unsalted straggler is the
        // LAST task to finish, i.e. exactly the one still in flight
        listener.drain()
        System.gc()
        (sec, listener.maxTaskMs, listener.tasks.toLong)
      }.drop(1).sortBy(_._1)
      val med = runs(runs.size / 2)
      println(f"$name%-10s ${med._1}%6.2f s  maxTaskMs=${med._2}  tasks=${med._3}")
      med
    }

    val unsalted = timed("unsalted")(
      agg(ev.join(cust.hint("merge"), ev("uid") === cust("c_custkey"), "left")))
    val salted = timed("salted")(
      agg(graft.ops.Scale.saltedLeftJoin(ev, cust, "uid", "c_custkey",
        saltIdCol = "event_id", saltBuckets = saltBuckets,
        broadcastDim = false)))

    val json =
      s"""{"metric":"skew_probe","fact_rows":$factRows,"hub_share":0.3,""" +
        s""""salt_buckets":$saltBuckets,"aqe_skew_join":false,""" +
        s""""unsalted":{"sec":${f"${unsalted._1}%.3f"},"max_task_ms":${unsalted._2}},""" +
        s""""salted":{"sec":${f"${salted._1}%.3f"},"max_task_ms":${salted._2}}}"""
    Files.writeString(Paths.get("SKEW_PROBE.json"), json)
    println(json)
    spark.stop()
  }
}
