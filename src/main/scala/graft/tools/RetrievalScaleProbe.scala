package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Retrieval

/** Scale curve for the retrieval/quality lane: BM25 top-k and the
  * bigram-LM perplexity gate over the deterministic synthetic corpus
  * ([[CorpusGenerator]] — same vocabulary as the driver testdata, so
  * the fixed query terms have realistic df spread) at sizes far above
  * the sf0.1 gate (5k docs).
  *
  * The claims being evidenced:
  *  - BM25's only corpus-sized exchange is the term-FILTERED posting
  *    list (the in-array filter runs before the explode), so cost
  *    grows with matching-token volume, not token volume;
  *  - the LM gate's scoring joins stay broadcast (count tables are
  *    vocab²-bounded regardless of corpus size) and the reduction is
  *    a map-side partial DECIMAL sum — the corpus text never
  *    shuffles, so the curve is one linear scan + skinny exchanges.
  *
  * The corpus frame is persisted and materialized OUTSIDE the timed
  * region: the probe measures the operators, not synthesis (the
  * fixture-store discipline).
  *
  * Usage: sbt "runMain graft.tools.RetrievalScaleProbe [sizes...]"
  * (default 500k 2M 8M docs; one {"metric":"retrieval_scale"} line)
  */
object RetrievalScaleProbe {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(500000L, 2000000L, 8000000L)
    val spark = graft.Session("graft-retrieval-scale")

    val results = sizes.map { n =>
      val docs = CorpusGenerator.corpus(spark, n)
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = docs.count() // materialize outside the timed region

      val t0 = System.nanoTime()
      val top = Retrieval.bm25TopK(docs, Retrieval.BmTerms, 10).collect()
      val bm25Sec = (System.nanoTime() - t0) / 1e9
      assert(top.length == 10, s"bm25 top-k returned ${top.length}")
      assert(top.forall(_.getDouble(1) > 0), "bm25 non-positive score")

      val t1 = System.nanoTime()
      val lm = Retrieval.lmPerplexity(docs)
        .agg(count(lit(1)).as("n"), sum(col("n_bigrams")).as("bg"),
          min(col("avg_nll")).as("lo"), max(col("avg_nll")).as("hi"))
        .collect()(0)
      val lmSec = (System.nanoTime() - t1) / 1e9
      // every generated doc has ≥10 tokens → every doc is scored
      assert(lm.getLong(0) == nDocs,
        s"lm scored ${lm.getLong(0)} of $nDocs docs")

      docs.unpersist(false)
      (n, bm25Sec, lmSec, lm.getLong(1), lm.getDouble(2), lm.getDouble(3))
    }

    val stages = results.map { case (n, b, l, bg, lo, hi) =>
      f"""{"docs":$n,"bm25_sec":$b%.2f,"lm_sec":$l%.2f,""" +
        f""""bigrams":$bg,"nll_min":$lo%.4f,"nll_max":$hi%.4f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"retrieval_scale","stages":$stages}""")
    spark.stop()
  }
}
