package graft.tools

import org.apache.spark.sql.functions._

/** Runnable walkthrough of [[graft.CorpusPipeline]] (the README
  * §Corpus pipeline example, EntrySmoke discipline: prints stage
  * counts, asserts the invariants, exits nonzero on any violation).
  *
  * Usage: sbt "runMain graft.tools.CorpusPipelineDemo [sfDir]"
  */
object CorpusPipelineDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session("graft-corpus-pipeline-demo")
    import spark.implicits._

    val shards = java.nio.file.Files
      .createTempDirectory("graft_demo_shards").toString
    val res = graft.CorpusPipeline.run(spark, dir,
      semanticTau = Some(0.999), shardsOut = Some(shards))

    val nDocs = graft.io.Tables.documents(spark, dir).count()
    val nSel = res.selected.count()
    val splits = res.split.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    val packed = res.packed
    val nPacked = packed.count()
    val nExamples = packed.agg(max($"last_example")).as[Long].head() + 1
    val nShardRows = spark.read.parquet(shards).count()

    println(s"corpus            : $nDocs docs ($dir)")
    println(s"selected          : $nSel docs (quality ∧ dedup ∧ " +
      s"decontaminated; semantic dropped ${res.semanticDropped})")
    println(s"split             : $splits")
    println(s"packed            : $nPacked docs into $nExamples examples " +
      s"of ${graft.ops.TextOps.PackContext} tokens")
    println(s"shards            : $nShardRows chunk rows at $shards")

    assert(nSel > 0 && nSel < nDocs, "selection must gate something out")
    // tiny corpora may legitimately draw no member of a 5% bucket
    assert(splits.keySet.subsetOf(Set("train", "val", "test")) &&
      splits.contains("train"), s"split values: ${splits.keySet}")
    assert(splits("train") > splits.getOrElse("val", 0L) &&
      splits("train") > splits.getOrElse("test", 0L),
      "train must dominate the 90/5/5 split")
    assert(res.split.count() == nSel, "every selected doc gets a split")
    assert(nPacked == nSel, "every selected doc lands in the packing plan")
    assert(nShardRows > 0, "shards must materialize")
    println("CORPUS PIPELINE OK")
    spark.stop()
  }
}
