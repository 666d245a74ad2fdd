package graft.tools

/** Dev smoke runner mirroring the driver's t1 gate: run
  * `SparkEntry.entry` on sf0.001 and assert rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session("graft-entry-smoke")
    val df = graft.SparkEntry.entry(spark)
    val rows = df.collect()
    df.show(truncate = false)
    println(s"entry rows=${rows.length}")
    assert(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}
