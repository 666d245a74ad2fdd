package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.ops.Ivf

/** IVF hot-cell probe under Zipf-skewed cluster mass (VERDICT r6
  * "next round" #7): every prior ANN artifact plants ~equal-mass
  * clusters, but real corpora are Zipf-skewed — if one cell ends up
  * holding a large fraction of the index, a probe routed there reads
  * that fraction of the data and the nProbe/K selectivity story
  * collapses.
  *
  * Two regimes, because WHERE the skew lands depends on the
  * quantizer's provenance:
  *
  *   - `refit`: quantizer fit on the skewed corpus itself. Seeds are
  *     rows in vec_id order, so seed mass is ∝ cluster mass and
  *     Lloyd's allocates centroids ∝ density — the fit itself is the
  *     split policy, and cell sizes should stay near-balanced even
  *     though cluster mass is Zipf.
  *   - `stale`: quantizer fit on a UNIFORM corpus, applied to the
  *     skewed one (the production drift scenario: refit offline on
  *     last month's distribution, serve this month's). The hot
  *     cluster's mass concentrates into the few cells whose centroids
  *     happen to sit inside it.
  *
  * Per regime: cell-size distribution of the written index (max /
  * p99 / median / mean, max-to-even-share ratio), files of the
  * hottest cell, single-query wall + max task probing the HOT cell
  * vs a MEDIAN cell, and batch-64 recall@10 vs brute (skew must not
  * cost recall).
  *
  * Third leg: [[Ivf.splitHotCells]] applied to the drifted index
  * (`stale_split`) — the in-place repair must shrink the hot cell,
  * restore the batch wall, and hold recall, re-measured with the
  * expanded quantizer. Writes `IVF_ZIPF.json`; PERF.md reads it and
  * records the cap/split decision.
  *
  * Usage: sbt "runMain graft.tools.IvfZipfProbe [n] [zipfS] [outJson]"
  */
object IvfZipfProbe {

  val KCells = 256
  val NProbe = 8
  val NQueries = 64
  val NClusters = 100

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val zipfS = args.lift(1).map(_.toDouble).getOrElse(1.1)
    val outJson = args.lift(2).getOrElse("IVF_ZIPF.json")
    val baseDir = sys.env.getOrElse("IVF_ZIPF_DIR", s"/tmp/ivf_zipf/n$n")

    // 512 MB over 32 files coalesces to ~4 input partitions at the
    // default 128 MB split — 16 MB splits keep the map-side fit at
    // full local width (see VecDimProbe; cluster default is right)
    val spark = graft.Session("ivf-zipf-probe",
      "spark.sql.files.maxPartitionBytes" -> s"${16 * 1024 * 1024}")
    import spark.implicits._
    val listener = StageMeter.install(spark)

    def timed[T](tag: String)(body: => T): (T, Double, Long) = {
      listener.reset()
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      listener.drain()
      println(f"[zipf s=$zipfS n=$n] $tag%-18s $sec%8.2f s  " +
        f"maxTaskMs=${listener.maxTaskMs} failed=${listener.failedTasks}")
      (r, sec, listener.maxTaskMs)
    }

    // skewed corpus + a uniform twin for the stale-quantizer fit
    VectorGenerator.write(spark, s"$baseDir/zipf", n, NClusters, zipfS = zipfS)
    VectorGenerator.write(spark, s"$baseDir/uniform", n, NClusters)
    val corpus = spark.read.parquet(s"$baseDir/zipf/embeddings.parquet")
    val uniform = spark.read.parquet(s"$baseDir/uniform/embeddings.parquet")
    val labelMass = corpus.groupBy("label").count().orderBy(desc("count"))
      .limit(3).collect().map(r => r.getInt(0) -> r.getLong(1))
    println(s"[zipf] top cluster masses: ${labelMass.mkString(", ")} of $n")

    val qRows = corpus.filter(col("vec_id") < NQueries)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val queries = qRows.toSeq.toDF("q_id", "q_emb")

    def topkOf(candidates: DataFrame): DataFrame =
      candidates
        .select(col("q_id"),
          graft.functions.cosine_sim(col("embedding"), col("q_emb")).as("s"),
          lpad(col("vec_id").cast("string"), 19, "0").as("key"))
        .groupBy("q_id")
        .agg(graft.functions.topk_by_score(col("s"), col("key"), 10).as("topk"))
        .select(col("q_id"), explode(col("topk")).as("e"))
        .select(col("q_id"), col("e.key").cast("long").as("vec_id"))

    def sets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }

    val (truthRows, _, _) = timed("brute_truth") {
      topkOf(corpus.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))).collect()
    }
    val truth = sets(truthRows)

    def regime(tag: String, fitOn: DataFrame): (Array[Array[Double]], String) = {
      val (centers, fitSec, _) = timed(s"${tag}_fit") {
        Ivf.fit(fitOn, col("embedding"), Seq(col("vec_id")), k = KCells, iters = 2)
      }
      val idxDir = s"$baseDir/index_$tag"
      timed(s"${tag}_write_index") {
        Ivf.writeIndex(corpus, col("embedding"), col("vec_id"), centers, idxDir)
      }
      (centers, measure(tag, idxDir, centers, fitSec))
    }

    def measure(tag: String, idxDir: String, centers: Array[Array[Double]],
        fitSec: Double): String = {
      // cell-size distribution of the WRITTEN index
      val cellSizes = spark.read.parquet(idxDir).groupBy("cell").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._2)
      val sizes = cellSizes.map(_._2)
      val nonEmpty = sizes.length
      val maxCell = sizes.head
      val p99 = sizes(math.min(nonEmpty - 1, (nonEmpty * 0.01).toInt))
      val median = sizes(nonEmpty / 2)
      val evenShare = n.toDouble / KCells
      val hotCellId = cellSizes.head._1
      val hotFiles = Option(new java.io.File(s"$idxDir/cell=$hotCellId")
        .listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      println(f"[$tag] cells=$nonEmpty max=$maxCell (${maxCell / evenShare}%.1fx even " +
        f"share) p99=$p99 median=$median hotFiles=$hotFiles")

      // single-query probes: one routed INTO the hot cell (a query at
      // the hot cell's own centroid — guaranteed routing), one at a
      // median cell's centroid
      val medCellId = cellSizes(nonEmpty / 2)._1
      def centroidQuery(cell: Int): Array[Float] = centers(cell).map(_.toFloat)
      val (_, hotSec, hotTask) = timed(s"${tag}_hot_probe") {
        Ivf.search(spark, idxDir, centers, centroidQuery(hotCellId), NProbe, 10)
          .collect()
      }
      val (_, medSec, medTask) = timed(s"${tag}_median_probe") {
        Ivf.search(spark, idxDir, centers, centroidQuery(medCellId), NProbe, 10)
          .collect()
      }

      // batch recall through the quantizer (skew must not cost recall)
      val probeDf = qRows.toSeq.flatMap { case (q, e) =>
        Ivf.nearestCells(centers, e.map(_.toDouble), NProbe).map(c => (q, c, e))
      }.toDF("q_id", "cell", "q_emb")
      // rows actually read by the 64 probes (selectivity): sum of the
      // probed cells' sizes, counted once per (query, cell)
      val sizeMap = cellSizes.toMap
      val probedRows = qRows.map { case (_, e) =>
        Ivf.nearestCells(centers, e.map(_.toDouble), NProbe)
          .map(c => sizeMap.getOrElse(c, 0L)).sum
      }.sum
      val idx = spark.read.parquet(idxDir)
      val (ivfRows, batchSec, batchTask) = timed(s"${tag}_ivf_batch") {
        topkOf(idx.join(broadcast(probeDf), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))).collect()
      }
      val rec = {
        val got = sets(ivfRows)
        val per = truth.toSeq.map { case (q, t) =>
          if (t.isEmpty) 1.0
          else got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
        }
        per.sum / per.size
      }
      println(f"[$tag] recall@10=$rec%.3f hot=$hotSec%.2f s med=$medSec%.2f s " +
        f"probed_rows=$probedRows (${probedRows.toDouble / (NQueries * n)}%.4f of " +
        "corpus x queries)")
      s""""$tag":{"fit_sec":${f"$fitSec%.2f"},"cells_nonempty":$nonEmpty,""" +
        s""""cell_max":$maxCell,"cell_p99":$p99,"cell_median":$median,""" +
        s""""even_share":${f"$evenShare%.0f"},""" +
        s""""max_over_even":${f"${maxCell / evenShare}%.2f"},""" +
        s""""hot_cell_files":$hotFiles,""" +
        s""""hot_probe_sec":${f"$hotSec%.3f"},"hot_probe_max_task_ms":$hotTask,""" +
        s""""median_probe_sec":${f"$medSec%.3f"},"median_probe_max_task_ms":$medTask,""" +
        s""""batch64_sec":${f"$batchSec%.2f"},"batch64_max_task_ms":$batchTask,""" +
        s""""batch64_probed_rows":$probedRows,""" +
        s""""recall_at_10":${f"$rec%.4f"}}"""
    }

    val (_, refitJson) = regime("refit", corpus)
    val (staleCenters, staleJson) = regime("stale", uniform)

    // the repair: split the drifted index's hot cells in place (cap =
    // 2% of rows ≈ 5× the even share) and re-measure with the
    // expanded quantizer — recall and probe selectivity must recover
    // WITHOUT a full refit+reindex
    val staleIdx = s"$baseDir/index_stale"
    val (expanded, splitSec, _) = timed("stale_split_apply") {
      Ivf.splitHotCells(spark, staleIdx, staleCenters, capShare = 0.02)
    }
    println(s"[stale_split] cells ${staleCenters.length} -> ${expanded.length}")
    val splitJson = measure("stale_split", staleIdx, expanded, splitSec)

    val json = s"""{"metric":"ivf_zipf","n":$n,"zipf_s":$zipfS,""" +
      s""""clusters":$NClusters,"k_cells":$KCells,"n_probe":$NProbe,""" +
      s""""n_queries":$NQueries,"cpus":${graft.Session.cores},""" +
      s""""top_cluster_rows":${labelMass.head._2},""" +
      s""""split_cap_share":0.02,"split_cells_total":${expanded.length},""" +
      s"""$refitJson,$staleJson,$splitJson}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
