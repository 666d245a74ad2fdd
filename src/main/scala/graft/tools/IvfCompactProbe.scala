package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Ivf

/** Soak probe for [[Ivf.compactIndex]] (round-6 verdict item 2):
  * sustained [[Ivf.appendStream]] load with batch-count-cadence
  * compaction, measuring whether the index's small-file population is
  * BOUNDED by the cadence instead of growing with the stream's
  * lifetime — and whether probes return identical results to brute
  * force over everything ingested, at every sample point.
  *
  * Metrics per sample (every batch):
  *   - live `batch_id=` slice dirs (the uncompacted tail),
  *   - parquet files in the committed compacted generation,
  *   - total parquet data files a reader's listing touches
  *     (live ∪ committed generation — the real open-file cost of a
  *     full-index scan).
  * A control run with compaction OFF shows the unbounded counterfactual
  * on the same input.
  *
  * Usage: sbt "runMain graft.tools.IvfCompactProbe [nBatches] [rowsPerBatch] [compactEvery]"
  * Emits one JSON line + IVF_COMPACT.json-ready payload on stdout.
  */
object IvfCompactProbe {
  private def countDirs(root: java.io.File, prefix: String): Seq[java.io.File] =
    if (!root.exists()) Seq.empty
    else root.listFiles().toSeq.filter(d => d.isDirectory && d.getName.startsWith(prefix))

  /** Live batch_id slice dirs across all cells. */
  private def liveSlices(idx: String): Int =
    countDirs(new java.io.File(idx), "cell=")
      .map(c => countDirs(c, "batch_id=").size).sum

  /** Parquet data files under a directory tree. */
  private def parquetFiles(dir: java.io.File): Int =
    if (!dir.exists()) 0
    else dir.listFiles().toSeq.map { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  /** Files in the currently committed compacted generation. */
  private def compactFiles(spark: SparkSession, idx: String): Int =
    graft.stream.Snapshots.resolve(spark, s"$idx/.compact") match {
      case Some(v) => parquetFiles(new java.io.File(s"$idx/.compact/v_$v"))
      case None => 0
    }

  /** Live-tree parquet files (excludes the dot-prefixed compact root). */
  private def liveFiles(idx: String): Int =
    countDirs(new java.io.File(idx), "cell=").map(parquetFiles).sum

  def main(args: Array[String]): Unit = {
    val nBatches = args.lift(0).map(_.toInt).getOrElse(60)
    val rowsPerBatch = args.lift(1).map(_.toInt).getOrElse(2000)
    val compactEvery = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session("graft-ivf-compact-probe")
    import spark.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("ivfcompact").toString
    val total = nBatches.toLong * rowsPerBatch
    val corpus = VectorGenerator.corpus(spark, total, nClusters = 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val centers = Ivf.fit(corpus, $"embedding", Seq($"vec_id"), k = 16, iters = 2)
    val qEmb = corpus.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray

    // TOMBSTONE LANE (round-8): every batch b ≥ 1 also DELETES
    // `delsPerBatch` ids from the previous batch — a steady
    // dedup/takedown trickle riding the append stream. Tracks the
    // deleted-id set so correctness can assert (a) no deleted id is
    // ever searchable, (b) the reader row count is exactly
    // appends − deletes, (c) tombstone slices fold away on the
    // compaction cadence instead of accumulating.
    val delsPerBatch = math.max(1, rowsPerBatch / 100)
    def deletedUpTo(b: Int): Seq[Long] =
      (1 to b).flatMap(i =>
        (0 until delsPerBatch).map(j => (i - 1).toLong * rowsPerBatch + j))

    def tombSlices(idx: String): Int =
      countDirs(new java.io.File(s"$idx/.tombstones"), "batch_id=").size

    def run(idx: String, every: Int, withDeletes: Boolean)
        : Seq[(Int, Int, Int, Int, Int)] = {
      (0 until nBatches).map { b =>
        val batch = corpus
          .filter($"vec_id" >= b.toLong * rowsPerBatch &&
            $"vec_id" < (b + 1).toLong * rowsPerBatch)
          .select($"vec_id", $"embedding")
        Ivf.appendBatch(batch, $"embedding", centers, idx, b.toLong)
        if (withDeletes && b >= 1)
          Ivf.appendTombstones(
            ((b - 1).toLong * rowsPerBatch until
              (b - 1).toLong * rowsPerBatch + delsPerBatch).toDF("vec_id"),
            idx, b.toLong)
        if (every > 0 && (b + 1) % every == 0) Ivf.compactIndex(spark, idx)
        (b, liveSlices(idx), compactFiles(spark, idx),
          liveFiles(idx) + compactFiles(spark, idx), tombSlices(idx))
      }
    }

    val t0 = System.nanoTime()
    val compacted = run(s"$tmp/idx_c", compactEvery, withDeletes = false)
    val tCompacted = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val control = run(s"$tmp/idx_n", 0, withDeletes = false)
    val tControl = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val tombRun = run(s"$tmp/idx_t", compactEvery, withDeletes = true)
    val tTomb = (System.nanoTime() - t2) / 1e9

    // correctness: full-probe search over the compacted index must
    // equal brute force over everything ingested
    val got = Ivf.search(spark, s"$tmp/idx_c", centers, qEmb,
      nProbe = 16, topK = 10).select($"vec_id").as[Long].collect().toSeq
    val brute = corpus
      .select($"vec_id",
        graft.functions.cosine_sim($"embedding", typedlit(qEmb.toSeq)).as("c"))
      .orderBy($"c".desc, $"vec_id".asc).limit(10)
      .select($"vec_id").as[Long].collect().toSeq
    val searchExact = got == brute
    // and the reader must see every row exactly once
    val readerRows = Ivf.readIndex(spark, s"$tmp/idx_c").count()

    // tombstone-lane correctness: deleted ids unfindable (full probe
    // over the whole index returns zero of them), reader count is
    // appends − deletes, and tombstone slices stay bounded by the
    // cadence (folded+pruned, not accumulated for the stream's life)
    val deleted = deletedUpTo(nBatches - 1)
    val deletedSet = deleted.toSet
    val tombReaderRows = Ivf.readIndex(spark, s"$tmp/idx_t").count()
    val ghostRows = Ivf.readIndex(spark, s"$tmp/idx_t")
      .filter($"vec_id".isin(deleted.map(java.lang.Long.valueOf): _*))
      .count()
    val tombSearch = Ivf.search(spark, s"$tmp/idx_t", centers, qEmb,
      nProbe = 16, topK = 10).select($"vec_id").as[Long].collect().toSeq
    val tombGhostsInTopK = tombSearch.count(deletedSet)
    val tombOk = ghostRows == 0L && tombGhostsInTopK == 0 &&
      tombReaderRows == total - deleted.size

    def series(xs: Seq[(Int, Int, Int, Int, Int)],
        f: ((Int, Int, Int, Int, Int)) => Int) =
      xs.map(f).mkString("[", ",", "]")
    val json =
      s"""{"metric":"ivf_compact_soak","batches":$nBatches,""" +
        s""""rows_per_batch":$rowsPerBatch,"compact_every":$compactEvery,""" +
        s""""live_slices_compacted":${series(compacted, _._2)},""" +
        s""""reader_files_compacted":${series(compacted, _._4)},""" +
        s""""reader_files_control":${series(control, _._4)},""" +
        s""""max_live_slices_compacted":${compacted.map(_._2).max},""" +
        s""""max_reader_files_compacted":${compacted.map(_._4).max},""" +
        s""""final_reader_files_control":${control.last._4},""" +
        s""""search_equals_brute":$searchExact,""" +
        s""""reader_rows":$readerRows,"expected_rows":$total,""" +
        s""""tombstones":{"dels_per_batch":$delsPerBatch,""" +
        s""""deleted_total":${deleted.size},""" +
        s""""tomb_slices_series":${series(tombRun, _._5)},""" +
        s""""max_tomb_slices":${tombRun.map(_._5).max},""" +
        s""""final_tomb_slices":${tombRun.last._5},""" +
        s""""ghost_rows":$ghostRows,"ghosts_in_topk":$tombGhostsInTopK,""" +
        s""""reader_rows":$tombReaderRows,""" +
        s""""expected_rows":${total - deleted.size},""" +
        s""""wall_sec":${f"$tTomb%.1f"}},""" +
        s""""wall_compacted_sec":${f"$tCompacted%.1f"},""" +
        s""""wall_control_sec":${f"$tControl%.1f"}}"""
    println(json)
    spark.stop()
    if (!searchExact || readerRows != total || !tombOk)
      throw new IllegalStateException("compaction soak FAILED correctness")
  }
}
