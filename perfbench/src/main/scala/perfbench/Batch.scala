package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Closed loop, one client, serial: the workload's declared queries of
  * `graft.SparkEntry.queries`, in a fixed order, each forced through
  * `queryExecution.toRdd.count()` exactly as `graft.Bench` times them.
  *
  * A query's time is split into `build` (calling `fn(spark, dir)`, which
  * includes any eager memo build, checkpoint or collect it does) and
  * `exec` (running the returned plan). Memo builds stay in the timed
  * region: the warm-up touches no program function, so every memo a
  * query uses is built by the first timed query that needs it. */
object Batch {

  /** Owning module of each declared query, for the ops.* layer. */
  private lazy val modules: Seq[(String, Set[String])] = Seq(
    "Transforms" -> graft.ops.Transforms.queries.keySet,
    "Aggregates" -> graft.ops.Aggregates.queries.keySet,
    "Cdc" -> graft.ops.Cdc.queries.keySet,
    "TextOps" -> graft.ops.TextOps.queries.keySet,
    "Retrieval" -> graft.ops.Retrieval.queries.keySet,
    "Rag" -> graft.ops.Rag.queries.keySet,
    "QualityModel" -> graft.ops.QualityModel.queries.keySet)

  /** Runs `names` over the tables in `data`; `docs` says the queries
    * read the documents table (curation) rather than the event tables. */
  def run(spark: SparkSession, work: String, data: String, names: Seq[String],
      docs: Boolean, cores: Int, traced: Boolean, out: Out): Unit = {
    val declared = graft.SparkEntry.queries
    names.filterNot(declared.contains).foreach(n => sys.error(s"undeclared query $n"))
    warmUp(spark, data, docs)
    // q_cdc_store reads a fixture store synthesized from the input once
    // per JVM; graft.Bench builds it in its warm-up as an input fixture
    if (names.contains("q_cdc_store")) graft.ops.Cdc.prebuildStore(spark, data)
    settle(spark)

    val meter = if (traced) Some(new EngineMeter) else None
    meter.foreach(spark.sparkContext.addSparkListener)
    case class Q(name: String, wallS: Double, buildS: Double, execS: Double,
        rows: Double, planS: Double, work: Snap, stageBusyMs: Long)
    val zero = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)
    out("timed_start_ms") = System.currentTimeMillis().toDouble
    var failed = 0
    val qs = names.map { name =>
      settle(spark)
      val before = meter.map(_.snap(spark)).getOrElse(zero)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val df = declared(name)(spark, data)
        val t1 = System.nanoTime()
        meter.foreach(_.snap(spark)) // traced: the drain lands in wall only
        val t2 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        val planS = df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
        val after = meter.map(_.snap(spark)).getOrElse(zero)
        Q(name, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t3 - t2) / 1e9, rows.toDouble,
          planS, after - before,
          meter.map(_.stageBusyMs(w0, System.currentTimeMillis())).getOrElse(0L))
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $name failed: $e")
          Q(name, (System.nanoTime() - t0) / 1e9, 0, 0, -1, 0, zero, 0)
      }
    }
    out("peak_heap_mb") = HeapMeter.peakMb()
    out("queries") = names.size.toDouble
    out("failed") = failed.toDouble
    out.lists("query_s") = qs.map(_.wallS)
    out.lists("query_rows") = qs.map(_.rows)

    meter.foreach { m =>
      val total = qs.foldLeft(zero) { (a, q) =>
        Snap(a.jobs + q.work.jobs, a.stages + q.work.stages, a.tasks + q.work.tasks,
          a.runMs + q.work.runMs, a.cpuNs + q.work.cpuNs, a.gcMs + q.work.gcMs,
          a.shuffleRead + q.work.shuffleRead, a.shuffleWrite + q.work.shuffleWrite,
          a.spill + q.work.spill)
      }
      out ++= m.report(total, math.max(1.0, qs.map(_.wallS).sum * 1e3),
        qs.map(_.stageBusyMs).sum.toDouble, cores, qs.map(_.planS).sum)
      modules.foreach { case (mod, owned) =>
        val mine = qs.filter(q => owned.contains(q.name))
        out(s"ops.$mod.wall_s") = mine.map(_.wallS).sum
        out(s"ops.$mod.build_s") = mine.map(_.buildS).sum
        out(s"ops.$mod.exec_s") = mine.map(_.execS).sum
        out(s"ops.$mod.jobs") = mine.map(_.work.jobs).sum.toDouble
        out(s"ops.$mod.task_cpu_s") = mine.map(_.work.cpuNs).sum / 1e9
      }
      // self-check: build + exec must account for each query's wall
      out("trace.query_split_gap") =
        qs.map(q => math.abs(1.0 - (q.buildS + q.execS) / q.wallS)).maxOption.getOrElse(0.0)
    }
  }

  /** Between queries and outside the timing, as graft.Bench does: drop
    * cached blocks a query left behind and collect garbage. */
  private def settle(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** First-touch of the engine paths the queries share, on the
    * workload's own tables, with plain DataFrame code: no program
    * function runs, so no memo is built. The event tables get parquet
    * scan, codegen, hash/sort aggregation, broadcast join, window, JSON
    * functions and a range shuffle; the documents table gets tokenizing,
    * explode, distinct counts and collect/percentile aggregation. */
  def warmUp(spark: SparkSession, data: String, docs: Boolean): Unit = {
    val frames: Seq[DataFrame] = if (docs) {
      val d = spark.read.parquet(s"$data/documents.parquet")
      Seq(
        d.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n"), countDistinct(col("doc_id")))
          .orderBy(col("n").desc),
        d.groupBy(col("lang")).agg(collect_list(col("doc_id")),
          percentile_approx(col("n_chars"), lit(0.5), lit(100))))
    } else {
      val ev = spark.read.parquet(s"$data/events.parquet")
      val cust = spark.read.parquet(s"$data/customer.parquet")
      Seq(
        ev.groupBy(col("event_type"), window(col("ts").cast("timestamp"), "1 minute"))
          .agg(count(lit(1)), sum(col("value")), avg(col("value")))
          .orderBy(col("event_type")),
        ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"), "left")
          .select(col("event_id"), col("c_mktsegment"),
            round(col("value") / col("c_acctbal"), 2))
          .orderBy("event_id"),
        ev.withColumn("r", row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"))))
          .withColumn("prev", lag(col("value"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"))))
          .filter(col("r") < 3),
        ev.select(col("event_id"), get_json_object(col("props"), "$.k").as("k"))
          .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"))
    }
    frames.foreach(_.queryExecution.toRdd.count())
  }

  /** Correctness dump for tools/check_oracle.py, written with the timed
    * session (warm memos) after the timed pass: one parquet dir per
    * query plus oracle_sql.json, in graft.Verify's layout. */
  def dump(spark: SparkSession, data: String, names: Seq[String], dir: String): Unit = {
    names.foreach { name =>
      try graft.SparkEntry.queries(name)(spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
      catch { case NonFatal(e) => System.err.println(s"[perfbench] dump of $name failed: $e") }
      finally spark.sharedState.cacheManager.clearCache()
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Main.touch(s"$dir/oracle_sql.json",
      oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
  }
}
