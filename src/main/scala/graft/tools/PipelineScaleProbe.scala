package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The realistic-corpus generator SHARED by [[PipelineScaleProbe]]
  * and [[MmrScaleProbe]] (ADVICE r13: a hand-copied duplicate could
  * silently drift, and the probes would then measure different
  * corpora; the keeper diagnostics run on it are in NOTES_r14).
  *
  * [[CorpusGenerator]]'s 30-word vocabulary is deliberately tiny for
  * the dedup probes, but it is the WRONG corpus for the full arc:
  * every trigram shingle collides (n-gram decontamination degenerates
  * quadratic) and distinct_ratio sits at the rep-gate boundary (the
  * selection keeps ~0 after extraction boilerplate). This corpus
  * keeps the generator's BLOCK duplicate structure (pos 8 exact copy,
  * pos 9 ~1/12 mutated near-dup) but draws tokens from a 50k hashed
  * vocabulary with ~30% en stopwords and ~10% sentence punctuation,
  * so quality, repetition, dedup and decontamination all operate in
  * their intended regimes. */
private[tools] object ProbeCorpus {
  private val StopToks = graft.ops.TextOps.stopwords.toArray

  private def pick(h: Long, n: Int): Int = (((h >>> 8) % n + n) % n).toInt

  private def tokOf(h: Long): String = {
    val p = (((h >>> 40) % 10 + 10) % 10).toInt
    if (p < 3) StopToks(pick(h, StopToks.length))
    else if (p == 3) "w" + pick(h, 50000) + "."
    else "w" + pick(h, 50000)
  }

  private def baseToks(seed: Long): Array[String] = {
    val h0 = CorpusGenerator.mix64(seed * 31 + 17)
    val n = 40 + pick(h0, 61)
    Array.tabulate(n)(i => tokOf(CorpusGenerator.mix64(seed * 1000003L + i)))
  }

  private def mutate(seed: Long, t: Array[String]): Array[String] =
    t.zipWithIndex.map { case (w, i) =>
      val h = CorpusGenerator.mix64(seed * 7778777L + i)
      if (pick(h, 12) == 0) tokOf(CorpusGenerator.mix64(h)) else w
    }

  def textOf(id: Long): String = {
    val block = id / 10
    val base = block * 10
    val toks = (id % 10) match {
      case 8 => baseToks(base)
      case 9 => mutate(id, baseToks(base))
      case _ => baseToks(id)
    }
    toks.mkString(" ")
  }

  def writeCorpus(spark: SparkSession, dir: String, n: Long,
      parts: Int = 32): Unit = {
    import spark.implicits._
    spark.range(n)
      .map(id => (id, textOf(id), "en", "src" + (id % 20)))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

/** FACADE-LEVEL scale probe (VERDICT r12 #3): the individual curation
  * stages each have scale artifacts, but [[graft.CorpusPipeline]]'s
  * one-call arc — the composed product — was unmeasured. Runs the arc
  * with extraction ON over block-structured synthetic corpora
  * ([[ProbeCorpus]]: realistic 50k vocabulary + stopwords + exact and
  * near duplicates, wrapped in the declared HTML fixture) at
  * 1×/3×/10× of a 100k-doc base, recording per-stage wall and
  * shuffle-write bytes, and emits a linear-or-better / superlinear
  * verdict per stage.
  *
  * Stage decomposition vs the facade's fused plan: the selection
  * stage deliberately computes quality gates, dedup keepers and
  * decontamination off ONE text scan (the one-scan guarantee PlanSpec
  * pins), so the probe recovers per-stage costs through the session
  * memo's ordering — `leakageSplit` is called FIRST and pays the
  * tokenize + MinHash + connected-components assignment
  * (`cc_dedup`); `corpusPipelineKeepers` then reuses that memo, so
  * its wall is the feature/quality scan + decontamination joins
  * (`quality_decon`); `split` and `pack` time their own increments.
  * Shuffle bytes come from a [[StageMeter]] reset before each stage
  * and drained after it.
  *
  * Usage: sbt "runMain graft.tools.PipelineScaleProbe [baseDocs]"
  * (default 100000; scales ×1/×3/×10). Writes PIPELINE_SCALE.json.
  */
object PipelineScaleProbe {

  /** Total JVM garbage-collection wall seconds so far (all
    * collectors). In local mode the driver JVM IS the executor JVM, so
    * a per-stage delta of this counter is the stage's measured GC
    * seconds — the attribution VERDICT r17 #1 asked for (the 100×
    * qd_decon_join wall spread was HYPOTHESIZED as GC/scheduling
    * jitter; this turns the hypothesis into a number in the
    * artifact). */
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3
  }

  /** One scale row: (scale, docs, packed, stages);
    * stage = (name, wall sec, shuffle bytes, gc sec). */
  private type ScaleRow = (Int, Long, Long, Seq[(String, Double, Long, Double)])

  /** A/B partials (r18 verdict #3) get a tag so a lever run can never
    * overwrite the committed shipping-config partials the merged
    * PIPELINE_SCALE.json verdicts are built from. */
  private def partialPath(s: Int) = {
    val tag = sys.env.get("SPARK_GRAFT_PARTIAL_TAG").fold("")(t => s"_$t")
    Paths.get(s"pipeline_scale${tag}_s$s.json")
  }

  def main(args: Array[String]): Unit = {
    // FRESH-JVM-PER-SCALE mode (r15): running all four scales in one
    // JVM let 30×'s walls inherit the smaller scales' heap/page-cache
    // state — the first 30× run flagged even `extract` (a pure map
    // stage, linear by construction) at wall-unit 1.44 while every
    // shuffle-unit stayed ≤1.01. Plan properties live in the shuffle
    // bytes; walls need a clean JVM per scale to be comparable.
    //   --scale <s> [base]  run ONE scale (2 reps), write
    //                       pipeline_scale_s<s>.json
    //   --merge             combine the partials into
    //                       PIPELINE_SCALE.json with verdicts
    // No args = legacy in-process all-scales run (wall-unit numbers
    // then carry the cross-scale JVM bias above; prefer the split).
    args.headOption match {
      case Some("--scale") =>
        val s = args(1).toInt
        val base = args.drop(2).headOption.map(_.toLong).getOrElse(100000L)
        val spark = buildSession()
        val meter = StageMeter.install(spark)
        val root = Files.createTempDirectory("graft_pipeline_scale").toString
        val row = runScale(spark, meter, root, base, s)
        Files.writeString(partialPath(s), rowJson(row))
        println(rowJson(row))
        spark.stop()
      case Some("--merge") =>
        // optional comma-separated scale list; a trailing 100 engages
        // the third-decade verdict rules (VERDICT r15 #4)
        val scales = args.drop(1).headOption
          .map(_.split(",").map(_.trim.toInt).toSeq)
          .getOrElse(Seq(1, 3, 10, 30))
        require(scales.take(4) == Seq(1, 3, 10, 30),
          s"merge expects scales 1,3,10,30[,100]; got $scales")
        val partials = scales.map(s =>
          new String(Files.readAllBytes(partialPath(s)), "UTF-8"))
        val rows = partials.map(parseRow)
        val heaps = partials.map(parseHeapGb)
        val parts = partials.map(parseParts)
        val base = rows.head._2
        emit(base, rows, freshJvm = true, heaps, parts)
      case _ =>
        val base = args.headOption.map(_.toLong).getOrElse(100000L)
        val spark = buildSession()
        val meter = StageMeter.install(spark)
        val root = Files.createTempDirectory("graft_pipeline_scale").toString
        val rows = Seq(1, 3, 10, 30).map(s =>
          runScale(spark, meter, root, base, s))
        emit(base, rows, freshJvm = false,
          Seq.fill(rows.size)(Runtime.getRuntime.maxMemory / 1073741824.0),
          // honor SPARK_GRAFT_SHUFFLE_PARTS here too (ADVICE r16): the
          // single-JVM arm builds its session from the same env knob,
          // so a constant would misname an overridden regime
          Seq.fill(rows.size)(shufflePartitions.toInt))
        spark.stop()
    }
  }

  private def rowJson(r: ScaleRow): String = {
    // shuffle_bytes carries the RAW long — the merge's verdict ratios
    // must not be reconstructed from the display-rounded shuffle_mb
    // ('%.1f' loses up to ~52 KB/stage; stages near the 20 MB gate
    // jittered across runs — ADVICE r15). shuffle_mb stays for eyes.
    // heap_gb records the scale JVM's -Xmx so the artifact names its
    // memory regime (VERDICT r15 #2: the committed lane must be
    // memory-per-row-constant, the fixed-heap lane a counterfactual).
    val stJson = r._4.map { case (nm, sec, by, gc) =>
      f"""{"stage":"$nm","sec":$sec%.2f,"shuffle_bytes":$by,"shuffle_mb":${by / 1048576.0}%.1f,"gc_sec":$gc%.2f}"""
    }.mkString("[", ",", "]")
    val heapGb = Runtime.getRuntime.maxMemory / 1073741824.0
    val parts = shufflePartitions
    // the footprint-lever knobs are part of the artifact's identity —
    // an A/B partial must name its regime (r18 reporting discipline)
    val ioCodec = sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4")
    val pqCodec = sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy")
    s"""{"scale":${r._1},"docs":${r._2},"packed_docs":${r._3},""" +
      f""""heap_gb":$heapGb%.1f,"shuffle_partitions":$parts%s,""" +
      s""""io_codec":"$ioCodec","parquet_codec":"$pqCodec",""" +
      s""""stages":$stJson}"""
  }

  private def parseHeapGb(json: String): Double = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    if (n.has("heap_gb")) n.get("heap_gb").asDouble() else -1.0
  }

  private def parseParts(json: String): Int = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    if (n.has("shuffle_partitions")) n.get("shuffle_partitions").asInt() else 32
  }

  private def parseRow(json: String): ScaleRow = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = m.readTree(json)
    val stages = (0 until n.get("stages").size()).map { i =>
      val st = n.get("stages").get(i)
      val by = if (st.has("shuffle_bytes")) st.get("shuffle_bytes").asLong()
        else (st.get("shuffle_mb").asDouble() * 1048576.0).toLong // pre-r16 partials
      val gc = if (st.has("gc_sec")) st.get("gc_sec").asDouble()
        else -1.0 // pre-r18 partials carry no GC attribution
      (st.get("stage").asText(), st.get("sec").asDouble(), by, gc)
    }
    (n.get("scale").asInt(), n.get("docs").asLong(),
      n.get("packed_docs").asLong(), stages)
  }

  /** SPARK_GRAFT_SHUFFLE_PARTS: the per-scale partition count of the
    * memory-per-row-constant lane (VERDICT r15 #2). On a fixed-
    * partition local box, per-task hash-agg group cardinality grows
    * with the corpus — a wall term a real cluster never sees because
    * partitions scale with data (the decontamination `parts` knob,
    * NOTES_r14). The lane scales this with the data (recorded per
    * partial as shuffle_partitions); shuffle BYTES stay
    * plan-determined either way. Unset, the session default. */
  private def shufflePartitions: String = sys.env.getOrElse(
    "SPARK_GRAFT_SHUFFLE_PARTS", graft.Session.cores.toString)

  // footprint-lever A/B knobs (r18 verdict #3): shuffle/spill codec
  // and parquet write codec — fewer bytes through the page cache is
  // the one lever that could touch the 100× arm's kernel-time
  // regime without changing any plan
  private def buildSession(): SparkSession = graft.Session(
    "graft-pipeline-scale",
    Seq("spark.sql.shuffle.partitions" -> shufflePartitions) ++
      sys.env.get("SPARK_GRAFT_IO_CODEC").map("spark.io.compression.codec" -> _) ++
      sys.env.get("SPARK_GRAFT_PARQUET_CODEC")
        .map("spark.sql.parquet.compression.codec" -> _): _*)

  private def runScale(spark: SparkSession, meter: StageMeter,
      root: String, base: Long, s: Int): ScaleRow = {
    import graft.ops.{Html, TextOps}
    import graft.io.Tables

    def staged[A](
        out: collection.mutable.ArrayBuffer[(String, Double, Long, Double)],
        name: String)(body: => A): A = {
      meter.reset()
      val g0 = gcSeconds()
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      val gc = gcSeconds() - g0
      meter.drain()
      out += ((name, sec, meter.shuffleWriteBytes, gc))
      r
    }

    // MIN-OF-2 REPS per scale (r14): single-shot stage walls moved
    // up to 2× between same-config runs (extract 6.9 s vs 12.7 s at
    // 10× — page cache + GC state), which is noise the wall-unit
    // verdict rule would misread as drift. Each rep uses FRESH dirs
    // so the per-dir session memos can't leak work across reps; wall
    // = min over reps (the QTime discipline), shuffle = rep 0 (it is
    // plan-determined and rep-invariant).
    // SECOND-DECADE arm (VERDICT r14 #4): the 30× point proves the
    // two hottest stages (cc_dedup, qd_decon_join) per-unit-flat
    // across TWO decades, not one — the regime where the r14 decon
    // quadratic and the r14 verify-join step both hid below 10×.
    {
      val nDocs = base * s
      val reps = (0 until 2).map { rep =>
      val raw = s"$root/raw_${s}_$rep"
      val dir = s"$root/ex_${s}_$rep"
      ProbeCorpus.writeCorpus(spark, raw, nDocs) // generation untimed
      val stages =
        collection.mutable.ArrayBuffer.empty[(String, Double, Long, Double)]

      // 1. extraction entry (extract ON): fixture-wrapped crawl pages
      //    through the html scanner to a standard documents table
      staged(stages, "extract") {
        val htmlDocs = Tables.documents(spark, raw)
          .select(col("doc_id"), col("lang"), col("source"),
            Html.fixture(col("doc_id"), col("text")).as("html"))
        graft.CorpusPipeline.extractHtmlCorpus(spark, htmlDocs, dir)
      }
      // 2. CC dedup assignment (memo built here, reused downstream)
      val splitAll = staged(stages, "cc_dedup") {
        val f = TextOps.leakageSplit(spark, dir)
        f.count(); f
      }
      // 3. quality + decontamination selection off the warm CC memo,
      //    SPLIT INTO SUBSTAGES (VERDICT r13 #1): the composed wall
      //    hid which component grew — now the feature scan, the
      //    decon join, and the gated selection each get their own
      //    row. `contaminated` is persisted by the PROBE so the
      //    selection substage reads it instead of re-paying the join
      //    (production computes it once inside one action; the
      //    persist keeps total work comparable while making the
      //    boundary measurable).
      // plan construction eagerly checkpoints the cluster-keeper id
      // set off the warm CC memo — its own row, not hidden overhead.
      // contaminated/selected are LAZY substage members (r16): the
      // decon guard's eager eval checkpoint + count must book into
      // qd_decon_join, where first touch happens — not here.
      val sub = staged(stages, "qd_keeper_ids") {
        TextOps.corpusPipelineSubstages(spark, dir)
      }
      val (feats, shingles) = (sub.feats, sub.shingles)
      staged(stages, "qd_feats") { feats.count() }
      val contaminated = staged(stages, "qd_decon_join") {
        val c = sub.contaminated
        c.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        c.count()
        c
      }
      val keepers = staged(stages, "qd_select") {
        // the corpusPipelineKeepers materialization rule: eager
        // checkpoint of the skinny survivors, then release the caches
        val out = sub.selected.localCheckpoint(true)
        feats.unpersist(false)
        shingles.unpersist(false)
        contaminated.unpersist(false)
        out
      }
      val ids = keepers.select("doc_id")
      // 4. leakage-safe split of the selected set
      val nSplit = staged(stages, "split") {
        splitAll.join(ids, Seq("doc_id"), "left_semi").count()
      }
      // 5. sequence packing of the selected docs
      val packed = staged(stages, "pack") {
        TextOps.packSequences(
          Tables.documents(spark, dir).join(ids, Seq("doc_id"), "left_semi"),
          TextOps.PackContext)
      }
      val nPacked = packed.count()
      packed.unpersist(false)
      require(nSplit == keepers.count(), "split must cover the selected set")
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      (nPacked, stages.toSeq)
      }
      val nPacked = reps.head._1
      require(reps.forall(_._1 == nPacked), "reps disagree on packed_docs")
      val merged = reps.head._2.indices.map { i =>
        val name = reps.head._2(i)._1
        // wall = min over reps (QTime discipline); gc follows the
        // MIN-WALL rep — pairing the min wall with another rep's gc
        // would manufacture an attribution that never co-occurred
        val minRep = reps.minBy(_._2(i)._2)
        (name, minRep._2(i)._2, reps.head._2(i)._3, minRep._2(i)._4)
      }
      (s, nDocs, nPacked, merged)
    }
  }

  private def emit(base: Long, rows: Seq[ScaleRow],
      freshJvm: Boolean, heaps: Seq[Double] = Nil,
      parts: Seq[Int] = Nil): Unit = {
    // VERDICT RULE (tightened per r13 verdict #1): the old
    // `wall_10x <= 11.5` alone certified an 11.16× wall with 17×
    // shuffle as "linear-or-better". Now a stage is superlinear when
    // ANY of these trips (cause named in the artifact):
    //   - wall_10x  > 11.5              (1×→10×, 15% slack)
    //   - shuf_10x  > 15    if b1>20MB  (1×→10×, 50% slack)
    //   - wall per-unit 3×→10× > 1.25   (amortizes the 1× fixed cost
    //     that let superlinear drift hide inside the 11.5 budget)
    //   - shuffle per-unit 3×→10× > 1.5 if b3>20MB
    // Sub-1.5 s stages stay exempt (overhead-bound).
    val stageNames = rows.head._4.map(_._1)
    val verdicts = stageNames.map { name =>
      def at(r: ScaleRow) = r._4.find(_._1 == name).get
      val (w1, b1) = (at(rows(0))._2, at(rows(0))._3)
      val (w3, b3) = (at(rows(1))._2, at(rows(1))._3)
      val (w10, b10) = (at(rows(2))._2, at(rows(2))._3)
      val (w30, b30) = (at(rows(3))._2, at(rows(3))._3)
      val mb = 1048576.0
      val wall10x = w10 / math.max(w1, 1e-9)
      val shuf10x = b10 / math.max(b1.toDouble, 1.0)
      val wallUnit = (w10 / 10.0) / math.max(w3 / 3.0, 1e-9)
      val shufUnit = (b10 / 10.0) / math.max(b3 / 3.0, 1.0)
      // second decade: per-unit drift 10×→30× — same thresholds as
      // the first decade's 3×→10× rule
      val wallUnit2 = (w30 / 30.0) / math.max(w10 / 10.0, 1e-9)
      val shufUnit2 = (b30 / 30.0) / math.max(b10 / 10.0, 1.0)
      // THIRD decade (VERDICT r15 #4): an optional 100× (10M-doc) arm
      // extends the per-unit rules 30×→100× — the regime where a
      // log-factor or slow quadratic would finally clear two flat
      // decades' slack
      val third = rows.lift(4).map { r100 =>
        val (w100, b100) = (at(r100)._2, at(r100)._3)
        // divide by the row's ACTUAL scale, not a hardcoded 100 —
        // `--merge 1,3,10,30,50` would otherwise silently compute
        // wrong 30×→Nth per-unit ratios (ADVICE r16)
        val s5 = r100._1.toDouble
        ((w100 / s5) / math.max(w30 / 30.0, 1e-9),
          (b100 / s5) / math.max(b30 / 30.0, 1.0))
      }
      val causes = (Seq(
        (wall10x > 11.5) -> f"wall_10x=$wall10x%.2f",
        (b1 / mb > 20 && shuf10x > 15 && shufUnit > 1.2) ->
          f"shuffle_10x=$shuf10x%.2f",
        (wallUnit > 1.25) -> f"wall_unit_3to10=$wallUnit%.2f",
        (b3 / mb > 20 && shufUnit > 1.5) -> f"shuffle_unit_3to10=$shufUnit%.2f",
        (w10 >= 1.5 && wallUnit2 > 1.25) -> f"wall_unit_10to30=$wallUnit2%.2f",
        (b10 / mb > 20 && shufUnit2 > 1.5) ->
          f"shuffle_unit_10to30=$shufUnit2%.2f"
      ) ++ third.toSeq.flatMap { case (wu3, su3) => Seq(
        (w30 >= 1.5 && wu3 > 1.25) -> f"wall_unit_30to100=$wu3%.2f",
        (b30 / mb > 20 && su3 > 1.5) -> f"shuffle_unit_30to100=$su3%.2f")
      }).collect { case (true, c) => c }
      // a 1×→3× shuffle step followed by LINEAR 3×→10× growth is a
      // plan transition (a join side outgrowing broadcast range at a
      // scale boundary), not drift — named, but not superlinear
      val stepOnly = b1 / mb > 20 && shuf10x > 15 && shufUnit <= 1.2
      // a WALL-ONLY trip with in-gate shuffle at every decade is the
      // fixed-box resource-regime signature, not plan superlinearity:
      // the r16 lane scales heap and shuffle partitions with the data
      // (memory-per-row-constant), but a single machine cannot scale
      // CORES — at 100× each of the 32 cores owns 100× the rows, and
      // working-set effects (LLC misses, storage-pool pressure on the
      // shared cache) show in walls while every plan-determined byte
      // count stays proportional. The shuffle ceiling here is 1.3 per
      // decade — far below a genuine quadratic's 3.33 per 3.33×-data
      // decade (and below the 1.5 byte gate that names a shuffle
      // cause), so a plan quadratic can never hide under this label;
      // see NOTES_r15 (heap regime) and NOTES_r16 (core regime).
      val wallOnly = shufUnit <= 1.3 && shufUnit2 <= 1.3 &&
        third.forall(_._2 <= 1.3) &&
        causes.forall(_.startsWith("wall"))
      // MEASURED GC attribution (VERDICT r17 #1): when the top arm's
      // partial carries gc_sec for this stage, a wall-only verdict
      // names the measured GC seconds instead of hypothesizing them
      val topRow = rows.last
      val (topWall, topGc) = (at(topRow)._2, at(topRow)._4)
      val gcCite = if (topGc >= 0)
        f"; measured GC $topGc%.1f s of $topWall%.1f s wall at ${topRow._1}×"
      else ""
      val v = if (w10 < 1.5 && w30 < 1.5) "flat"
        else if (causes.nonEmpty && wallOnly)
          f"wall-only-superlinear on the fixed-core box (${causes.mkString(", ")}; shuffle per-unit $shufUnit%.2f/$shufUnit2%.2f in-gate — resource regime, see NOTES_r16$gcCite)"
        else if (causes.nonEmpty) s"superlinear: ${causes.mkString(", ")}"
        else if (stepOnly)
          f"step-then-linear (shuffle_10x=$shuf10x%.2f from a 1x->3x plan transition; 3x->10x per-unit $shufUnit%.2f)"
        else "linear-or-better"
      (name, wall10x, wallUnit, shufUnit, wallUnit2, shufUnit2, third, v)
    }

    val scaleJson = rows.map { case (s, n, packed, st) =>
      val stJson = st.map { case (nm, sec, by, gc) =>
        val gcJson = if (gc >= 0) f""","gc_sec":$gc%.2f""" else ""
        f"""{"stage":"$nm","sec":$sec%.2f,"shuffle_bytes":$by,"shuffle_mb":${by / 1048576.0}%.1f$gcJson}"""
      }.mkString("[", ",", "]")
      s"""{"scale":$s,"docs":$n,"packed_docs":$packed,"stages":$stJson}"""
    }.mkString("[", ",", "]")
    val verdictJson = verdicts.map { case (n, r, wu, su, wu2, su2, third, v) =>
      val thirdJson = third.map { case (wu3, su3) =>
        f""""wall_unit_30to100":$wu3%.2f,"shuffle_unit_30to100":$su3%.2f,"""
      }.getOrElse("")
      f"""{"stage":"$n","ratio_10x_vs_1x":$r%.2f,""" +
        f""""wall_unit_3to10":$wu%.2f,"shuffle_unit_3to10":$su%.2f,""" +
        f""""wall_unit_10to30":$wu2%.2f,"shuffle_unit_10to30":$su2%.2f,""" +
        thirdJson +
        f""""verdict":"$v"}"""
    }.mkString("[", ",", "]")
    val mode = if (freshJvm) "fresh-jvm-per-scale" else "single-jvm"
    val heapJson = heaps.map(h => f"$h%.1f").mkString("[", ",", "]")
    val partsJson = (if (parts.nonEmpty) parts
      else Seq.fill(rows.size)(32)).mkString("[", ",", "]")
    val json = s"""{"metric":"pipeline_scale","base_docs":$base,""" +
      s""""measurement_mode":"$mode","heap_gb_per_scale":$heapJson,""" +
      s""""shuffle_partitions_per_scale":$partsJson,""" +
      s""""scales":$scaleJson,"verdicts":$verdictJson}"""
    // repo-relative like bench_baseline.json is read (ADVICE r13)
    Files.writeString(Paths.get("PIPELINE_SCALE.json"), json)
    println(json)
  }
}
