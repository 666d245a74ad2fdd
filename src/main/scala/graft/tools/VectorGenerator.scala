package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Synthetic clustered-embedding generator for the ANN scaling curve
  * (VERDICT r4 "next round" #1) — an `embeddings` table with the
  * driver testdata's schema (vec_id, label, embedding: 64×float) at
  * any size, with PLANTED cluster structure: `nClusters` uniform
  * [−1,1]⁶⁴ centers, each vector = center(label) + uniform noise.
  * At noise 0.25 the within-cluster cosine is ≈0.95 and cross-cluster
  * ≈0, so IVF/LSH probes have real structure to find, while true
  * top-k neighbors are still measured against brute force (never
  * assumed from the labels).
  *
  * Everything derives from splitmix64 of (id, dim) — no RNG state, so
  * generation is embarrassingly parallel and identical across runs
  * and partitionings (same property as [[CorpusGenerator]]).
  *
  * Usage: sbt "runMain graft.tools.VectorGenerator <outDir> <nVecs> [nClusters] [dims] [zipfS]"
  */
object VectorGenerator {

  val Dims = 64

  private def unit(h: Long): Double = ((h >>> 11) * (1.0 / (1L << 53))) * 2 - 1

  /** Cluster center component, uniform [−1, 1]. */
  def center(c: Int, i: Int, dims: Int = Dims): Double =
    unit(CorpusGenerator.mix64(c.toLong * dims + i + 777L))

  /** Cumulative Zipf(s) mass over ranks 1..n (cdf(r) = P[label ≤ r]).
    * Driver-scale (nClusters entries) and closed over by the row
    * mapper — label r gets mass ∝ 1/r^s, so cluster 0 dominates. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf
  }

  case class Vec(vec_id: Long, label: Int, embedding: Array[Float])

  /** `zipfS = 0` (default) keeps the historical uniform cluster sizes
    * byte-identically; `zipfS > 0` draws labels Zipf(s)-skewed via
    * inverse-CDF over the same hash stream, so the SAME vec_id keeps
    * the same noise component and only its cluster membership (and
    * thus center offset) changes. `dims` defaults to the historical
    * 64; any width hashes a disjoint (id, dim) stream. */
  def corpus(spark: SparkSession, n: Long, nClusters: Int,
      noise: Double = 0.25, dims: Int = Dims, zipfS: Double = 0.0): DataFrame = {
    import spark.implicits._
    val cdf = if (zipfS > 0) zipfCdf(nClusters, zipfS) else Array.empty[Double]
    spark.range(n).map { id =>
      val h = CorpusGenerator.mix64(id * 31 + 7)
      val label =
        if (cdf.isEmpty) ((h >>> 8) % nClusters).toInt
        else {
          val u = (h >>> 11) * (1.0 / (1L << 53))
          val j = java.util.Arrays.binarySearch(cdf, u)
          math.min(if (j >= 0) j else -j - 1, nClusters - 1)
        }
      val emb = Array.tabulate(dims) { i =>
        val u = unit(CorpusGenerator.mix64(id * 6400019L + i))
        (center(label, i, dims) + noise * u).toFloat
      }
      Vec(id, label, emb)
    }.toDF()
  }

  def write(spark: SparkSession, outDir: String, n: Long, nClusters: Int,
      dims: Int = Dims, zipfS: Double = 0.0): Unit =
    corpus(spark, n, nClusters, dims = dims, zipfS = zipfS)
      // ~32 files so downstream scans parallelize (CorpusGenerator's
      // single-file lesson from round 4)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

  def main(args: Array[String]): Unit = {
    val Array(outDir, n) = args.take(2)
    val nClusters = args.lift(2).map(_.toInt).getOrElse(100)
    val dims = args.lift(3).map(_.toInt).getOrElse(Dims)
    val zipfS = args.lift(4).map(_.toDouble).getOrElse(0.0)
    val spark = graft.Session("graft-vector-generator")
    write(spark, outDir, n.toLong, nClusters, dims = dims, zipfS = zipfS)
    println(s"""{"metric":"vectors","n":$n,"clusters":$nClusters,""" +
      s""""dims":$dims,"zipf_s":$zipfS,"dir":"$outDir"}""")
    spark.stop()
  }
}
