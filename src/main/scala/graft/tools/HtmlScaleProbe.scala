package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale probe for the HTML extraction entry stage (VERDICT r11 #2a):
  * the claim under test is MAP-SIDE LINEARITY — [[graft.ops.Html]]
  * extraction is a pure composed-Column regex chain with no UDF, no
  * explode and no shuffle, so wall time must scale ~linearly with the
  * corpus and the physical plan must contain ZERO exchanges (the probe
  * asserts both, not just times them).
  *
  * Corpus: synthetic documents at 1×/3×/10× of a 100k-doc base
  * (20×/60×/200× the sf0.1 bench corpus), 50 tokens each, wrapped in
  * the same deterministic markup fixture the declared query uses —
  * page size ~1.5 KB, the regex chain sees the full chrome/script/
  * entity surface on every row.
  *
  * Two timed lanes per scale:
  *   - extract: the full [[graft.ops.Html.extractBlocks]] staged
  *     projection (blocks array + clean text + counts) — the map-only
  *     claim, plan-asserted exchange-free;
  *   - stats: the q_html_stats rollup on top (adds the one
  *     (lang, source) aggregation — the expected single shuffle).
  *
  * Writes `HTML_SCALE.json`. Usage:
  *   sbt "runMain graft.tools.HtmlScaleProbe"
  */
object HtmlScaleProbe {

  private def docs(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocab = 20000
    val toks = (0 until 50).map(k =>
      concat(lit("w"), pmod(hash(col("id") * lit(k + 1) + lit(k)),
        lit(vocab)).cast("string")))
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat(lit("l"), pmod(col("id"), lit(5)).cast("string")).as("lang"),
      concat(lit("src"), pmod(hash(col("id")), lit(20)).cast("string"))
        .as("source"), // hash-decorrelated from lang (id%20 implies id%5)
      concat_ws(" ", toks: _*).as("text"))
  }

  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])

  def main(args: Array[String]): Unit = {
    val spark = graft.Session("graft-html-scale")
    import graft.ops.Html

    val base = 100000L
    val rows = Seq(1, 3, 10).map { s =>
      val src = docs(spark, base * s)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      src.count() // generation out of the timed region

      def extractDf = {
        val html = Html.fixture(col("doc_id"), col("text"))
        src.select(col("doc_id"),
            length(html).cast("long").as("n_chars_html"),
            Html.extractBlocks(html).as("blocks"))
          .select(col("doc_id"), col("n_chars_html"),
            length(concat_ws(" ", col("blocks"))).cast("long")
              .as("n_chars_clean"),
            size(col("blocks")).cast("long").as("n_blocks"))
      }
      val exchangeFree = !hasExchange(extractDf)

      extractDf.queryExecution.toRdd.count() // warm (codegen + JIT)
      val t0 = System.nanoTime()
      val n = extractDf.queryExecution.toRdd.count()
      val tExtract = (System.nanoTime() - t0) / 1e9

      def statsDf = src
        .select(col("lang"), col("source"),
          Html.extractText(Html.fixture(col("doc_id"), col("text"))).as("clean"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("clean")).cast("long")).as("sum_chars"))
      val t1 = System.nanoTime()
      val nGroups = statsDf.queryExecution.toRdd.count()
      val tStats = (System.nanoTime() - t1) / 1e9

      src.unpersist(true)
      require(n == base * s, s"extraction lost rows: $n of ${base * s}")
      require(nGroups == 100, s"stats groups $nGroups != 5 langs x 20 sources")
      require(exchangeFree, "extraction plan contains a shuffle exchange")
      (s, n, tExtract, tStats, exchangeFree)
    }

    val b = rows.head
    val json = rows.map { case (s, n, te, ts, xf) =>
      f"""{"scale":$s,"docs":$n,"extract_sec":$te%.2f,"stats_sec":$ts%.2f,""" +
        f""""extract_ratio_vs_1x":${te / b._3}%.2f,""" +
        f""""stats_ratio_vs_1x":${ts / b._4}%.2f,"exchange_free":$xf}"""
    }.mkString("""{"metric":"html_scale","base_docs":100000,"rows":[""",
      ",", "]}")
    Files.writeString(Paths.get("HTML_SCALE.json"), json)
    println(json)
    spark.stop()
  }
}
