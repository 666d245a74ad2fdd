package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{TextOps, Util}

/** End-to-end 10× scale probe for the sketch lane (VERDICT r10 #7):
  * the claim under test is FLAT STATE — [[graft.functions.kmv_min_hashes]]
  * keeps k=256 longs per group and [[graft.functions.cms_sketch]] keeps
  * d×w counters per group regardless of corpus size, so the whole
  * query's cost is one linear scan + an O(groups²) / O(1) tail.
  *
  * Runs the DECLARED query shapes (q_kmv_overlap: tokenize → native
  * shingle-hash generator → per-source KMV → pairwise bottom-k Jaccard;
  * q_cms_heavy: corpus-pass CMS + exact top-10 audit ride-along) over a
  * synthetic corpus at 1× / 3× / 10×, same token/user distribution at
  * every scale, and checks:
  *   - wall grows ≤ linearly (ratio_10x ≲ 12 with scan noise),
  *   - state bytes per group are CONSTANT across scales (read from the
  *     materialized sketch arrays, not assumed),
  *   - the estimates are scale-stable (same distribution → same
  *     Jaccard; CMS est ≥ exact upper-bound holds at every scale).
  *
  * Writes SKETCH_SCALE.json. Usage: sbt "runMain graft.tools.SketchScaleProbe"
  */
object SketchScaleProbe {

  /** 4-source corpus, 50 tokens/doc. One doc-group in five is SHARED:
    * its text depends only on the template id (id/4), so the same
    * token sequence lands in all four sources (syndicated-content
    * analog) and pairwise trigram-shingle Jaccard is a real ~0.1–0.2
    * signal, identical at every scale (the distribution does not
    * depend on nDocs). The other docs mix a per-source vocab range so
    * their shingles never collide across sources. */
  private def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocab = 20000
    val tid = col("id") / 4 // template id: same for 4 consecutive ids
    val shared = pmod(tid.cast("long"), lit(5)) === 0
    val toks = (0 until 50).map { k =>
      val sharedTok = pmod(hash(tid.cast("long") * lit(k + 1) + lit(k)),
        lit(vocab / 2))
      val privTok = lit(vocab / 2) + pmod(col("id"), lit(4)) * lit(vocab / 2) +
        pmod(hash(col("id") * lit(k + 1) + lit(k)), lit(vocab / 2))
      concat(lit("w"), when(shared, sharedTok).otherwise(privTok).cast("string"))
    }
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(4)).cast("string")).as("source"),
      concat_ws(" ", toks: _*).as("text"))
  }

  /** Events with 3 planted heavy hitters (30% of traffic) over a 10k
    * user tail — q_cms_heavy's shape with a known answer. */
  private def events(spark: SparkSession, nEvents: Long): DataFrame =
    spark.range(nEvents).select(
      when(pmod(col("id"), lit(10)) < 3, pmod(col("id"), lit(3)))
        .otherwise(lit(100) + pmod(hash(col("id")), lit(10000)))
        .as("user_id"))

  private def kmvOverlap(src: DataFrame, k: Int): DataFrame = {
    val sh = src.select(col("source"),
      graft.functions.ngram_hash_explode(TextOps.tokens(col("text"))).as("h"))
    val sk = sh.groupBy(col("source"))
      .agg(graft.functions.kmv_min_hashes(col("h"), k).as("mins"))
    val pairs = sk.select(col("source").as("source_a"), col("mins").as("ma"))
      .join(sk.select(col("source").as("source_b"), col("mins").as("mb")),
        col("source_a") < col("source_b"))
    val u = slice(array_sort(array_union(col("ma"), col("mb"))), 1, k)
    val ni = size(filter(u, x =>
      array_contains(col("ma"), x) && array_contains(col("mb"), x)))
    // both sides' sketch sizes (ADVICE r11: pairs require a < b, so
    // state_a alone never observes the LAST source's sketch)
    pairs.select(col("source_a"), col("source_b"),
      size(col("ma")).as("state_a"),
      size(col("mb")).as("state_b"),
      Util.roundTo(ni.cast("double") / size(u).cast("double"), 6)
        .as("jaccard_est"))
  }

  private def cmsHeavy(ev: DataFrame, d: Int, w: Int): DataFrame = {
    val h = TextOps.hash60(col("user_id").cast("string"))
    val sk = ev.agg(graft.functions.cms_sketch(h, d, w).as("cms"))
    val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc).limit(10)
    top.crossJoin(broadcast(sk))
      .select(col("user_id"), col("n_exact"),
        size(col("cms")).as("state_counters"),
        graft.functions.cms_point(col("cms"), h, d, w).as("n_est"))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session("graft-sketch-scale",
      graft.functions.ConfGuard.ThresholdKey -> "10000000")
    val k = 256; val d = 4; val w = 256

    val scales = Seq(1L, 3L, 10L)
    val baseDocs = 100000L
    val baseEvents = 2000000L

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val rows = scales.map { s =>
      val dsrc = docs(spark, baseDocs * s)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val esrc = events(spark, baseEvents * s)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dsrc.count(); esrc.count() // generation out of the timed region
      kmvOverlap(dsrc, k).collect(); cmsHeavy(esrc, d, w).collect() // warm
      val (kmvRes, kmvSec) = timed(kmvOverlap(dsrc, k).collect())
      val (cmsRes, cmsSec) = timed(cmsHeavy(esrc, d, w).collect())
      dsrc.unpersist(); esrc.unpersist()

      val kmvStateBytes = kmvRes.map(r => math.max(
        r.getAs[Int]("state_a"), r.getAs[Int]("state_b"))).max * 8L
      val cmsStateBytes = cmsRes.map(_.getAs[Int]("state_counters")).max * 8L
      val jacc = kmvRes.sortBy(r => (r.getString(0), r.getString(1)))
        .map(r => f"${r.getString(0)}-${r.getString(1)}:${r.getAs[Double]("jaccard_est")}%.4f")
      val bound = cmsRes.forall(r =>
        r.getAs[Long]("n_est") >= r.getAs[Long]("n_exact"))
      val top3 = cmsRes.sortBy(-_.getAs[Long]("n_exact")).take(3)
        .map(r => s"""{"user":${r.get(0)},"exact":${r.getAs[Long]("n_exact")},"est":${r.getAs[Long]("n_est")}}""")
      (s, kmvSec, cmsSec, kmvStateBytes, cmsStateBytes, jacc, bound, top3)
    }

    val base = rows.head
    val json = rows.map { case (s, kmvSec, cmsSec, kb, cb, jacc, bound, top3) =>
      f"""{"scale":$s,"docs":${baseDocs * s},"events":${baseEvents * s},""" +
        f""""kmv_overlap_sec":$kmvSec%.3f,"cms_heavy_sec":$cmsSec%.3f,""" +
        f""""kmv_state_bytes_per_group":$kb,"cms_state_bytes_per_group":$cb,""" +
        f""""kmv_wall_ratio_vs_1x":${kmvSec / base._2}%.2f,""" +
        f""""cms_wall_ratio_vs_1x":${cmsSec / base._3}%.2f,""" +
        s""""jaccard":"${jacc.mkString(",")}","cms_upper_bound_holds":$bound,""" +
        s""""cms_top3":[${top3.mkString(",")}]}"""
    }
    val out = s"""{"metric":"sketch_scale","k":$k,"d":$d,"w":$w,"scales":[${json.mkString(",")}]}"""
    println(out)
    java.nio.file.Files.write(java.nio.file.Paths.get("SKETCH_SCALE.json"),
      out.getBytes("UTF-8"))
    spark.stop()
  }
}
