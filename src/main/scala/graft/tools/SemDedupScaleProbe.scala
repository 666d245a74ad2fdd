package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.VectorOps

/** Adversarial scale probe for [[graft.ops.VectorOps.semanticDedup]]'s
  * exact-duplicate representative collapse — the same mass-duplication
  * stress the r8 image-near-dup lane was graded on: HALF the corpus is
  * one identical embedding (a boilerplate vector × n/2 copies). Without
  * the collapse the greedy pair join would emit (n/2)·(n/2−1)/2 pairs
  * from that one group (6.1e9 at n=500k, 1e11 at n=2M); with it the
  * group contributes ONE representative row, and the probe asserts the
  * semantics survive: exactly one survivor from the mass group, exactly
  * one from a planted 10-member near-dup (non-exact) group, diverse
  * vectors kept.
  *
  * The probe drives the DEDUP CORE in isolation: cells come from the
  * generator's cluster label (scaled as n/250 so per-cell membership
  * stays ~250 — exactly how production scales the quantizer's k with
  * corpus size; the declared q_semantic_dedup runs the real
  * fit+assign). Mass copies share cell 0 and the near group cell 1,
  * consistent with any embedding-derived assignment. Per-cell pair
  * cost is thus bounded by membership² — linear in n at fixed
  * membership — and the mass group's n²/8 term is gone structurally.
  *
  * Usage: sbt "runMain graft.tools.SemDedupScaleProbe [sizes...]"
  * (default 100k 500k 2M; writes one {"metric":"semdedup_scale"} line)
  */
object SemDedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(100000L, 500000L, 2000000L)
    val spark = graft.Session("graft-semdedup-scale")
    import spark.implicits._

    val dims = VectorGenerator.Dims
    val mass = Array.tabulate(dims)(i => VectorGenerator.center(0, i).toFloat)
    val nearBase = Array.tabulate(dims)(i => VectorGenerator.center(1, i).toFloat)

    val results = sizes.map { n =>
      val nCells = math.max(64L, n / 250).toInt
      val base = VectorGenerator.corpus(spark, n, nCells)
        .as[VectorGenerator.Vec]
      val corpus = base.map { v =>
        if (v.vec_id % 2 == 0)
          VectorGenerator.Vec(v.vec_id, 0, mass) // mass duplicate
        else if (v.vec_id < 20) // 10 odd ids: near (non-exact) group
          VectorGenerator.Vec(v.vec_id, 1, Array.tabulate(dims)(i =>
            (nearBase(i) * (1.0 + ((v.vec_id + i) % 5 - 2) * 1e-4)).toFloat))
        else v
      }.toDF().withColumn("cell", col("label"))

      val t0 = System.nanoTime()
      val out = VectorOps.semanticDedup(corpus, tau = 0.999)
      val agg = out.agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_total"),
        sum(when(col("kept") && col("vec_id") % 2 === 0, 1L)
          .otherwise(0L)).as("kept_mass"),
        sum(when(col("kept") && col("vec_id") < 20 && col("vec_id") % 2 === 1, 1L)
          .otherwise(0L)).as("kept_near")).collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val (keptTotal, keptMass, keptNear) =
        (agg.getLong(0), agg.getLong(1), agg.getLong(2))

      // semantics under mass duplication: one survivor per dup group
      assert(keptMass == 1L, s"mass group kept $keptMass, expected 1")
      assert(keptNear == 1L, s"near group kept $keptNear, expected 1")
      // diverse odd-id vectors survive (allow a handful of chance
      // near-collisions in the generated cloud)
      val expectDiverse = n / 2 - 10 + 1 + 1
      assert(keptTotal >= expectDiverse - 5 && keptTotal <= expectDiverse,
        s"kept_total $keptTotal outside [$expectDiverse-5, $expectDiverse]")

      val m = n / 2
      (n, nCells, sec, m, m * (m - 1) / 2, keptTotal)
    }

    val stages = results.map { case (n, c, sec, m, naive, kept) =>
      s"""{"rows":$n,"cells":$c,"mass_copies":$m,""" +
        s""""naive_mass_pairs":$naive,""" +
        f""""probe_sec":$sec%.2f,"kept_total":$kept}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"semdedup_scale","tau":0.999,"stages":$stages}""")
    spark.stop()
  }
}
