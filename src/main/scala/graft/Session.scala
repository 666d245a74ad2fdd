package graft

import org.apache.spark.sql.SparkSession

import graft.functions.ConfGuard

/** The one local session every main builds ([[Bench]], [[Verify]] and
  * the `graft.tools` mains): `local[n]` with `n` from
  * `SPARK_GRAFT_CPUS`, or the machine's core count when it is unset.
  * Shuffle partitions follow `n`, AQE is on, the session time zone is
  * UTC, the bounded-aggregate fallback threshold is
  * [[ConfGuard.Recommended]] (see functions/TopKAgg.scala), the UI is
  * off and the log level is WARN — the engine the benchmark measures,
  * so a probe's numbers are comparable with the bench's.
  *
  * A main that needs a setting of its own (a codec, a split size, a
  * log-compaction interval) passes it as `extra`; an extra pair
  * overrides a default with the same key. */
object Session {

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The defaults for an `n`-core local session. */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    ConfGuard.ThresholdKey -> ConfGuard.Recommended.toString,
    "spark.ui.enabled" -> "false")

  def apply(appName: String, extra: (String, String)*): SparkSession = {
    val n = cores
    val b = SparkSession.builder().master(s"local[$n]").appName(appName)
    (conf(n) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
