package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Scale probe for the SUBSTRING-DEDUP family (VERDICT r12 #7):
  * q_substring_dedup / q_substring_spans / q_substring_clean are the
  * slowest declared text lane (2.3–4.4 s at sf0.1) and had no scaling
  * artifact. All three ride the shared window-hash core
  * ([[graft.ops.TextOps]] `withDupWindowStarts`): a stride-1 8-token
  * window explode (O(total tokens) skinny rows, hashed INSIDE the
  * Generate so text never shuffles), one hash-keyed duplicate count,
  * one semi-join back. The candidate superlinear term would be the
  * duplicated-window join fan-out on a copy-heavy corpus.
  *
  * Corpus: [[CorpusGenerator]] (10% exact dups, 10% near dups — every
  * window of a copied block is duplicated, so the dup-start frame is
  * a real fraction of the window frame, not a toy). Records per
  * scale: total window rows (Σ max(n−7, 0) — the explode's exact
  * cardinality), per-query wall + output rows, and emits a
  * linear-or-better / superlinear verdict per query (10× wall within
  * 11.5× of 1×).
  *
  * Usage: sbt "runMain graft.tools.SubstrScaleProbe [baseDocs]"
  * (default 20000; scales ×1/×3/×10). Writes SUBSTR_SCALE.json.
  */
object SubstrScaleProbe {
  private val Queries =
    Seq("q_substring_dedup", "q_substring_spans", "q_substring_clean")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.map(_.toLong).getOrElse(20000L)
    val spark = graft.Session("graft-substr-scale")
    val root = Files.createTempDirectory("graft_substr_scale").toString

    val scales = Seq(1, 3, 10)
    val rows = scales.map { s =>
      val nDocs = base * s
      val dir = s"$root/c$s"
      CorpusGenerator.write(spark, dir, nDocs)
      val w = graft.ops.TextOps.SubstrWindow
      val windows = graft.io.Tables.documents(spark, dir)
        .select(greatest(
          size(graft.ops.TextOps.tokens(col("text"))) - (w - 1), lit(0))
          .cast("long").as("nw"))
        .agg(sum(col("nw"))).head().getLong(0)
      val qs = Queries.map { q =>
        val fn = graft.SparkEntry.queries(q)
        fn(spark, dir).queryExecution.toRdd.count() // warm (codegen/JIT)
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val out = fn(spark, dir).queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        (q, sec, out)
      }
      (s, nDocs, windows, qs)
    }

    val verdicts = Queries.map { q =>
      val w1 = rows.head._4.find(_._1 == q).get._2
      val w10 = rows.last._4.find(_._1 == q).get._2
      val ratio = w10 / math.max(w1, 1e-9)
      (q, ratio, if (ratio <= 11.5) "linear-or-better" else "superlinear")
    }

    val scaleJson = rows.map { case (s, n, wins, qs) =>
      val qj = qs.map { case (q, sec, out) =>
        f"""{"query":"$q","sec":$sec%.2f,"out_rows":$out}"""
      }.mkString("[", ",", "]")
      s"""{"scale":$s,"docs":$n,"window_rows":$wins,"queries":$qj}"""
    }.mkString("[", ",", "]")
    val vJson = verdicts.map { case (q, r, v) =>
      f"""{"query":"$q","ratio_10x_vs_1x":$r%.2f,"verdict":"$v"}"""
    }.mkString("[", ",", "]")
    val json = s"""{"metric":"substr_scale","base_docs":$base,""" +
      s""""scales":$scaleJson,"verdicts":$vJson}"""
    // repo-relative like bench_baseline.json is read (ADVICE r13)
    Files.writeString(Paths.get("SUBSTR_SCALE.json"), json)
    println(json)
    spark.stop()
  }
}
