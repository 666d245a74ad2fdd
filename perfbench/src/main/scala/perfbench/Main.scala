package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM, started by perfbench/run.py:
  *
  *   Main --workload <name|train> --work <dir> --cores <n> --trace <0|1>
  *        [--capacity <events>] [--local1 <events>]
  *        [--data <dir> --queries <q,...> [--verify <dir>]]
  *
  * The program is driven only through its public functions; this side
  * times those calls from outside, and (with `--trace 1`) attaches the
  * engine and streaming listeners. Results go to `<work>/jvm.json`;
  * run.py checks outputs and turns them into the benchmark's metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = opt("work")
    val cores = opt("cores").toInt
    val out = new Out
    HeapMeter.install()
    val spark = session(cores, work)
    val traced = opt("trace") == "1"
    opt("workload") match {
      case "stream_steady" =>
        Streams.steady(spark, work, cores, traced, out)
        opt.get("capacity").foreach(n => Streams.capacity(spark, work, n.toLong, out))
      case w @ ("events_analytics" | "curation_batch") =>
        val names = opt("queries").split(",").toSeq
        Batch.run(spark, work, opt("data"), names, docs = w == "curation_batch", cores,
          traced, out)
        opt.get("verify").foreach(Batch.dump(spark, opt("data"), names, _))
      case "train" =>
        // the class-data-sharing training run (run.py's build step): the
        // engine paths every workload loads, on small inputs
        Batch.warmUp(spark, opt("data"), docs = false)
        Batch.warmUp(spark, opt("data"), docs = true)
        Streams.train(spark, work)
      case w => sys.error(s"unknown workload $w")
    }
    opt.get("local1").foreach(n => Streams.drainLocal1(spark, work, n.toLong, out))
    out.write(s"$work/jvm.json")
    SparkSession.active.stop()
  }

  /** The session `graft.Bench` builds: AQE on, shuffle partitions =
    * cores, the objectHashAggregate fallback threshold, UTC, UI off.
    * Scratch and local dirs stay inside the run's work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def waitFor(path: String, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!Files.exists(Paths.get(path))) {
      if (System.currentTimeMillis() > deadline)
        sys.error(s"timed out waiting for $path")
      Thread.sleep(5)
    }
  }

  def touch(path: String, body: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(path))
  }
}

/** Flat result record: named numbers and named number lists. */
final class Out {
  val nums = mutable.LinkedHashMap.empty[String, Double]
  val lists = mutable.LinkedHashMap.empty[String, Seq[Double]]
  def update(k: String, v: Double): Unit = nums(k) = v
  def ++=(kv: Iterable[(String, Double)]): Unit = nums ++= kv

  def write(path: String): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val body = (nums.map { case (k, v) => s"\"$k\": ${num(v)}" } ++
      lists.map { case (k, v) => s"\"$k\": ${v.map(num).mkString("[", ",", "]")}" })
      .mkString("{", ",\n", "}")
    Main.touch(path, body)
  }
}
