package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosine_sim

/** Vector similarity scoring + top-k retrieval — the engine-side form
  * of the reference's hosted vector-search index + query (SURVEY
  * §2.11 U10/U11;
  * `ocr-tesseract-unstructured.py:145-153` index build,
  * `:167-171` `similarity_search(..., num_results=5)`).
  *
  * The index is just a table (id, embedding) — the reference's
  * delta-sync index materialized as first-class data. Query = score +
  * top-k, served one of two ways:
  *  - a small file-backed index (a bare `spark.read` of files within
  *    `spark.sql.autoBroadcastJoinThreshold`) is answered from rows the
  *    driver keeps per data file ([[ResidentIndex]]), scored and ranked
  *    at call time: the result is a local relation, so collecting it
  *    runs no job, and after a refresh the new files are read on the
  *    driver, so that search runs none either;
  *  - anything else (filtered or joined frames, in-memory Datasets,
  *    ANN candidates, large indexes) stays lazy and distributed —
  *    Catalyst plans it as TakeOrderedAndProject over a scan: no
  *    global sort, partial top-k per partition, k rows to the driver.
  * Both rank by the same kernel and the same (sim desc, id) order.
  *
  * Scale path (100 TB): brute force is a full scan per query —
  * correct baseline, O(N). `graft.operators.AnnSearch` adds the
  * LSH-bucketed variant that prunes the scan to candidate buckets.
  */
object VectorSearch {

  /** Array literal column for a query vector. */
  def vecLit(v: Seq[Double]): Column = array(v.map(lit): _*)

  /** Brute-force top-k by cosine against a constant query vector:
    * the index columns plus `sim`, at most `k` rows ordered by (sim
    * desc, `idCol`). Deterministic: ties broken by `idCol`. Served
    * from resident rows when [[ResidentIndex]] applies, else planned
    * lazily over the scan.
    */
  def topK(
      index: DataFrame,
      embeddingCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int): DataFrame = {
    ResidentIndex.topK(index, embeddingCol, idCol, query, k).getOrElse(
      index
        .withColumn("sim", cosine_sim(col(embeddingCol), vecLit(query)))
        .orderBy(col("sim").desc, col(idCol))
        .limit(k))
  }

  /** The reference's `similarity_search(query_text, …, num_results)`:
    * embed the query text with the same embedder that built the
    * index, then score+top-k. One driver-side embed call (a single
    * text), then [[topK]]: resident rows for a small file-backed
    * index, a distributed scan otherwise.
    */
  def searchText(
      index: DataFrame,
      embeddingCol: String,
      idCol: String,
      queryText: String,
      embedder: Embedder,
      k: Int): DataFrame = {
    val qv = embedder.embed(Seq(queryText)).head.map(_.toDouble).toSeq
    topK(index, embeddingCol, idCol, qv, k)
  }
}
