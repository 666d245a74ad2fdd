package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Synthetic document-corpus generator for the dedup scaling curve
  * (VERDICT r3 "next round" #1) — produces a `documents` table with
  * the driver testdata's exact schema and statistics (TESTDATA.md:
  * 30-word vocabulary, 10–100 token uniform lengths, 5 langs, 20
  * sources) at any size, with CONTROLLED duplicate structure:
  *
  *   - 80% unique docs (text derived from the doc id — reproducible),
  *   - 10% exact duplicates (ids ≡ 8 mod 10 copy their block base,
  *     id − 8 — exercises digest dedup + exact-dup pre-contraction),
  *   - 10% near duplicates (ids ≡ 9 mod 10 mutate ~1/12 of the block
  *     base's tokens — exercises MinHash/LSH candidate generation and
  *     verification; at the 3-shingle level a 1/12 token mutation
  *     keeps jaccard ≈ 0.6 for typical lengths, above the 0.5
  *     verification threshold, while very short docs legitimately
  *     fall below it),
  *   - every 500th block is a 5-copy group (ids ≡ 2,4,6 mod 10 of
  *     that block also copy the base) so k-copy pre-contraction has
  *     real k>2 groups to collapse at every scale.
  *
  * Everything derives from splitmix64 of the doc id — no RNG state,
  * so generation is embarrassingly parallel (`spark.range(n).map`)
  * and identical across runs/partitionings.
  *
  * Usage: `sbt "runMain graft.tools.CorpusGenerator <outDir> <nDocs>"`
  * — writes `<outDir>/documents.parquet` readable by
  * [[graft.io.Tables.documents]].
  */
object CorpusGenerator {

  /** The driver testdata's document vocabulary (TESTDATA.md corpus). */
  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  val Langs: Array[String] = Array("en", "en", "de", "es", "fr", "zh")
  val Sources = 20

  /** splitmix64 — deterministic per-id randomness without RNG state. */
  def mix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a9a7dbc82e25L
    z ^ (z >>> 31)
  }
  private def pick(h: Long, n: Int): Int = (((h >>> 8) % n + n) % n).toInt

  /** Unique-doc text for a seed: 10–100 tokens off the vocabulary. */
  def baseTokens(seed: Long): Array[String] = {
    val h0 = mix64(seed * 31 + 17)
    val n = 10 + pick(h0, 91)
    Array.tabulate(n)(i => Vocab(pick(mix64(seed * 1000003L + i), Vocab.length)))
  }

  /** Near-dup mutation: replace tokens at positions where the per-
    * position hash lands in a 1/12 window (≈8% of tokens). */
  def mutateTokens(seed: Long, toks: Array[String]): Array[String] =
    toks.zipWithIndex.map { case (t, i) =>
      val h = mix64(seed * 7778777L + i)
      if (pick(h, 12) == 0) Vocab(pick(mix64(h), Vocab.length)) else t
    }

  /** Block structure: ids [b*10, b*10+10) form one block; the base is
    * b*10. Returns the id this doc's text derives from and its kind. */
  def textOf(id: Long): String = {
    val block = id / 10
    val pos = (id % 10).toInt
    val base = block * 10
    val bigGroup = block % 500 == 0 && block > 0
    val toks = pos match {
      case 8 => baseTokens(base) // exact copy
      case 9 => mutateTokens(id, baseTokens(base)) // near dup
      case 2 | 4 | 6 if bigGroup => baseTokens(base) // k-copy group
      case _ => baseTokens(id) // unique
    }
    toks.mkString(" ")
  }

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  def corpus(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    // lang follows the block base so dup partners share it (realistic:
    // a copy is the same language as its original)
    spark.range(nDocs).map { id =>
      val text = textOf(id)
      val lang = Langs(pick(mix64((id / 10) * 10 + 5), Langs.length))
      Doc(id, text, lang, s"src${id % Sources}", text.length.toLong)
    }.toDF()
  }

  def write(spark: SparkSession, outDir: String, nDocs: Long): Unit =
    corpus(spark, nDocs)
      // ~32 files so downstream scans parallelize like a real corpus
      // (a single parquet file caps the scan stage at 1 task — the
      // q_json_parse round-4 lesson)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

  def main(args: Array[String]): Unit = {
    val Array(outDir, n) = args.take(2)
    val spark = graft.Session("graft-corpus-generator")
    write(spark, outDir, n.toLong)
    println(s"""{"metric":"corpus","docs":$n,"dir":"$outDir"}""")
    spark.stop()
  }
}
