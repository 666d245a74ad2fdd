package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale probe for [[graft.ops.TextOps.packSequences]]'s two-phase
  * distributed prefix sum vs the naive spelling — `sum(n) over
  * (order by doc_id)`, a global un-partitioned window that drags
  * every row through ONE task regardless of cluster size. Both
  * spellings run over the same synthetic (doc_id, n_tokens) corpus
  * (token counts pure arithmetic on the id so the probe verifies
  * offsets without a reference implementation), the outputs are
  * asserted IDENTICAL, and the probe prints per-size timings plus
  * the partition counts that tell the real story: the window plan
  * collapses to 1 partition while the two-phase scan keeps every
  * core busy. At probe scale the single task still finishes —
  * the point is the shape (1 vs 32 active partitions): on a
  * 1000-executor cluster against 100 TB the window spelling is a
  * straggler by construction, the two-phase scan is not.
  *
  * Both spellings consume the identical pre-materialized (doc_id, n)
  * frame through [[graft.ops.TextOps.packCounts]] — tokenize cost is
  * out of the picture, the delta is pure scan strategy.
  *
  * Usage: sbt "runMain graft.tools.PackScaleProbe [sizes...]"
  * (default 10M 50M 100M rows)
  */
object PackScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(10000000L, 50000000L, 100000000L)
    val spark = graft.Session("graft-pack-scale")
    val C = 2048

    val results = sizes.map { n =>
      // synthetic counts: n_tokens = (id*37 mod 97) + 1 — both
      // spellings consume the IDENTICAL (doc_id, n) frame, so the
      // delta is pure scan strategy
      val counted = spark.range(n).toDF("doc_id")
        .withColumn("n", (pmod(col("doc_id") * 37, lit(97)) + 1).cast("long"))

      // naive spelling: global-order window cumsum — Exchange
      // SinglePartition, every row through ONE task
      val t0 = System.nanoTime()
      val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
      val naive = counted
        .withColumn("start_tok", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("end_tok", col("start_tok") + col("n"))
        .select(col("doc_id"), col("n"), col("start_tok"), col("end_tok"))
      val naiveAgg = naive.agg(
        count(lit(1)), max(col("end_tok")), sum(col("start_tok"))).collect()(0)
      val naiveSec = (System.nanoTime() - t0) / 1e9
      // how many tasks does the window stage actually use?
      val naiveParts = naive.rdd.getNumPartitions

      // two-phase distributed scan (the shipped operator's core)
      val t1 = System.nanoTime()
      val packed = graft.ops.TextOps.packCounts(counted, C)
      val packedAgg = packed.agg(
        count(lit(1)), max(col("end_tok")), sum(col("start_tok"))).collect()(0)
      val twoPhaseSec = (System.nanoTime() - t1) / 1e9
      val packedParts = packed.rdd.getNumPartitions

      // equivalence: same row count, same total token span, same
      // offset checksum — any drift in any row moves the sum
      assert(naiveAgg.getLong(0) == packedAgg.getLong(0),
        s"row count diverged: ${naiveAgg.getLong(0)} vs ${packedAgg.getLong(0)}")
      assert(naiveAgg.getLong(1) == packedAgg.getLong(1),
        s"total tokens diverged: ${naiveAgg.getLong(1)} vs ${packedAgg.getLong(1)}")
      assert(naiveAgg.getLong(2) == packedAgg.getLong(2),
        s"offset checksum diverged: ${naiveAgg.getLong(2)} vs ${packedAgg.getLong(2)}")
      packed.unpersist(false)

      (n, naiveSec, naiveParts, twoPhaseSec, packedParts,
        naiveAgg.getLong(1))
    }

    val stages = results.map { case (n, ns, np, ts, tp, toks) =>
      s"""{"rows":$n,"total_tokens":$toks,""" +
        f""""window_sec":$ns%.2f,"window_partitions":$np,""" +
        f""""two_phase_sec":$ts%.2f,"two_phase_partitions":$tp}"""
    }.mkString("[", ",", "]")

    // NO-SPLIT lane (packFfdCounts): doc sizes comparable to the
    // context (100..1599 tokens, ~1.3 docs/bin) so the padding story
    // is non-trivial — id-order next-fit pays for every size
    // mismatch, size-decreasing recovers most of it. The wall prices
    // the O(log B) pointer-doubling rounds on top of the prefix scan.
    val ffdSizes = if (args.nonEmpty) sizes.map(_ / 10 max 1L)
      else Seq(1000000L, 3000000L, 10000000L)
    val ffdStages = ffdSizes.map { n =>
      val counted = spark.range(n).toDF("doc_id")
        .withColumn("n",
          (pmod(col("doc_id") * 37, lit(1500)) + 100).cast("long"))
      val t0 = System.nanoTime()
      val packed = graft.ops.TextOps.packFfdCounts(counted, C)
      val agg = packed.agg(count(lit(1)),
        max(col("slot_start") + col("n_tokens")),
        max(col("example_id")),
        first(col("pad_ratio_ffd")), first(col("pad_ratio_id"))).collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val (rows, maxEnd, bins) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2) + 1)
      val (pFfd, pId) = (agg.getDouble(3), agg.getDouble(4))
      assert(rows == n, s"ffd lost rows: $rows of $n")
      assert(maxEnd <= C, s"no-split violated: a doc ends at $maxEnd > $C")
      // FFD beating id-order next-fit is an empirical property of
      // THIS size distribution, not an invariant (ADVICE r13): both
      // ratios land in the JSON; only row conservation and no-split
      // are hard asserts.
      if (pFfd > pId)
        System.err.println(
          f"[pack-scale] WARNING: ffd pad $pFfd%.6f > id-order $pId%.6f " +
            s"at $n rows — distribution-dependent, not a packing bug")
      packed.unpersist(false)
      s"""{"rows":$n,"bins":$bins,""" +
        f""""ffd_sec":$sec%.2f,"pad_ratio_ffd":$pFfd%.6f,""" +
        f""""pad_ratio_id":$pId%.6f}"""
    }.mkString("[", ",", "]")

    println(s"""{"metric":"pack_scale","context_len":$C,""" +
      s""""stages":$stages,"ffd_stages":$ffdStages}""")
    spark.stop()
  }
}
