package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lexical (keyword) retrieval — the BM25 side of a retrieval stack
  * whose dense side is `VectorSearch`/`AnnSearch`. Real training-data
  * and RAG pipelines run both; the reference only ships the dense
  * path (`similarity_search`, `ocr-tesseract-unstructured.py:167-171`),
  * so this is part of the extended inventory.
  *
  * Entirely Catalyst-composed (tokenize → explode → two aggregations
  * → scoring expression), hence SQL-mirrorable for the oracle and
  * whole-stage-codegen friendly.
  *
  * Scale shape: one scan computes per-doc term frequencies for QUERY
  * TERMS ONLY (the explode is filtered before it ever shuffles, so
  * shuffle volume is |docs|·|query| at worst, not |tokens|);
  * document-frequency and corpus stats are two tiny aggregates
  * (|query| rows and 1 row) that broadcast back. Nothing is
  * quadratic and the token stream is never materialized globally.
  */
object TextSearch {

  /** Okapi BM25 with the Lucene idf flavor:
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), and per (doc, term)
    * tf·(k1+1) / (tf + k1·(1 − b + b·len/avgLen)). Docs matching no
    * query term score 0 and are not returned.
    *
    * Output: (id, score, n_hit) — score rounded to `scale` decimals
    * BEFORE the ordering so cross-engine libm ulp differences in
    * `ln` can never flip the ranking; ties break on id.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      scale: Int = 4): DataFrame = {
    require(query.nonEmpty)
    val spark = docs.sparkSession
    import spark.implicits._

    val toks = graft.Par.spread(docs.select(col(idCol).cast("long").as("id"), col(textCol)))
      .select($"id", TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("len", size($"toks"))
      .persist()                     // one scan feeds stats + tf; released with the plan

    // corpus stats: integer sums → bit-identical avg across engines
    val stats = toks.agg(
      count(lit(1)).as("n_docs"), sum($"len").as("total_len"))
    // per-(doc, term) tf over query terms only — filter BEFORE explode
    val tf = toks
      .select($"id", $"len", explode(filter($"toks", t => t.isInCollection(query))).as("term"))
      .groupBy($"id", $"len", $"term").agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy($"term").agg(countDistinct($"id").as("df"))

    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("norm",
        lit(k1) * (lit(1.0 - b) + lit(b) * $"len" / ($"total_len".cast("double") / $"n_docs")))
      .withColumn("contrib", $"idf" * $"tf" * lit(k1 + 1.0) / ($"tf" + $"norm"))
      .groupBy($"id")
      .agg(round(sum($"contrib"), scale).as("score"), count(lit(1)).as("n_hit"))

    scored.orderBy($"score".desc, $"id").limit(k)
  }
}
