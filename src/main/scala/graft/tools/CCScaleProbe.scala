package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for [[graft.ops.Graph.connectedComponents]]: a synthetic
  * multi-million-edge graph with verifiable structure — disjoint
  * rings of configurable size (ring i over ids [i·S, (i+1)·S); every
  * ring's component minimum is its base id, checkable without a
  * reference implementation). Rings stress the pointer-jump depth
  * (diameter = S/2) and the measured-parallelism path (edge count
  * drives the partition choice). Prints one JSON line.
  *
  * A third mode, `star N`, builds one N-spoke star (hub id 0): the
  * hub is a maximally hot join/agg key — the skew case. The propagate
  * step absorbs it because the min-label groupBy partial-aggregates
  * map-side (the hub's N candidate labels collapse per partition
  * before the shuffle), so the hot key ships one row per partition.
  *
  * Usage: sbt "runMain graft.tools.CCScaleProbe [nRings] [ringSize]"
  *    or: sbt "runMain graft.tools.CCScaleProbe star [nSpokes]"
  * (default 200_000 × 10 = 2M nodes / 2M undirected edges)
  */
object CCScaleProbe {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("star")) { starMain(args); return }
    val nRings = args.headOption.map(_.toInt).getOrElse(200000)
    val ringSize = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Session("graft-cc-scale")

    val n = nRings.toLong * ringSize
    // ring edges: (id, next-in-ring) — id i links to i+1 except the
    // ring's last, which closes back to the ring's base
    val edges = spark.range(n).toDF("id_a")
      .withColumn("ring", (col("id_a") / ringSize).cast("long"))
      .withColumn("id_b",
        when(pmod(col("id_a"), lit(ringSize)) === (ringSize - 1),
          col("ring") * ringSize).otherwise(col("id_a") + 1))
      .select(col("id_a"), col("id_b"))

    val t0 = System.nanoTime()
    val labels = graft.ops.Graph.connectedComponents(edges)
    // verify without a reference: every node's label must be its ring
    // base, so the number of wrong rows is a single aggregate
    val wrong = labels
      .filter(col("label") =!= (col("node") / ringSize).cast("long") * ringSize)
      .count()
    val sec = (System.nanoTime() - t0) / 1e9
    val nLabeled = labels.count()
    println(s"""{"metric":"cc_scale","nodes":$n,"edges":$n,"rings":$nRings,"ring_size":$ringSize,"wrong_labels":$wrong,"labeled":$nLabeled,"seconds":${f"$sec%.1f"}}""")
    assert(wrong == 0L, s"$wrong wrong labels")
    assert(nLabeled == n, s"labeled $nLabeled of $n")
    spark.stop()
  }

  private def starMain(args: Array[String]): Unit = {
    val nSpokes = args.lift(1).map(_.toInt).getOrElse(2000000)
    val spark = graft.Session("graft-cc-star")
    // hub 0 — every edge touches it; every node must label to 0
    val edges = spark.range(1, nSpokes + 1)
      .select(lit(0L).as("id_a"), org.apache.spark.sql.functions.col("id").as("id_b"))
    val t0 = System.nanoTime()
    val labels = graft.ops.Graph.connectedComponents(edges)
    val wrong = labels.filter(col("label") =!= 0L).count()
    val nLabeled = labels.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"cc_scale_star","spokes":$nSpokes,"wrong_labels":$wrong,"labeled":$nLabeled,"seconds":${f"$sec%.1f"}}""")
    assert(wrong == 0L && nLabeled == nSpokes + 1)
    spark.stop()
  }
}
