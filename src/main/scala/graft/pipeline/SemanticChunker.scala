package graft.pipeline

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semantic chunking: split documents where the TOPIC shifts, not at
  * arbitrary byte offsets. The fixed-width chunkers ([[Chunker]],
  * q16/q76) cut mid-thought; retrieval quality wants chunks that are
  * internally coherent. Standard recipe (as in embedding-based
  * "semantic splitters"): segment the text into base windows, embed
  * each window, and start a new chunk wherever the cosine between
  * ADJACENT window embeddings drops below a threshold — a topic-drift
  * boundary.
  *
  * Shape at scale: segmentation is a narrow projection (posexplode of
  * a token-window array); embedding is the same `mapPartitions` +
  * bounded-batch discipline as [[Inference.embedChunks]]; the
  * adjacent-cosine lag and the boundary→chunk-id running count are
  * per-document windows (bounded by segments-per-document — the
  * document is the natural parallel unit, same contract as every
  * per-doc window in the repo); reassembly is one groupBy(doc, chunk)
  * with an in-group sort_array for deterministic text order. Nothing
  * global, nothing driver-side.
  *
  * Determinism: [[HashingEmbedder]] is seeded and the cosine is the
  * codegen `cosine_sim` left-to-right accumulation — same chunks on
  * any layout/retry (spec-pinned). Embedder-dependent ⇒ rows-only at
  * the oracle gate, like every embedding query (q18/q20).
  */
object SemanticChunker {

  /** Per-document segments of `width` whitespace tokens (the base
    * units between which boundaries can fall): (doc_id, seg_id,
    * seg_text). Empty/blank docs yield one empty segment so every
    * input document survives to the output.
    */
  def segments(docs: DataFrame, idCol: String, textCol: String,
      width: Int = 40): DataFrame = {
    require(width > 0, "segment width must be positive")
    val toks = TextFunctions.tokens(col(textCol))
    val nSegs = greatest(ceil(size(toks).cast("double") / width).cast("int"), lit(1))
    val segs = transform(
      sequence(lit(0), nSegs - 1),
      i => concat_ws(" ", slice(toks, i * width + 1, lit(width))))
    docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(segs).as(Seq("seg_id", "seg_text")))
  }

  /** Boundary detection + chunk assembly: (doc_id, chunk_id,
    * n_segments, chunk_text). A chunk break opens before segment i
    * when cos(emb(i−1), emb(i)) < `threshold` (the first segment
    * always opens chunk 0).
    */
  def chunk(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      embedder: Embedder = HashingEmbedder(),
      width: Int = 40,
      threshold: Double = 0.35,
      batchSize: Int = 150): DataFrame = {
    import spark.implicits._
    val embedded = segments(docs, idCol, textCol, width)
      .as[(Long, Int, String)]
      .mapPartitions { it =>
        // embedder deserialized once per task (client-init pattern)
        it.grouped(batchSize).flatMap { batch =>
          val vecs = embedder.embed(batch.map(_._3))
          batch.lazyZip(vecs).map((s, v) => (s._1, s._2, s._3, v))
        }
      }
      .toDF("doc_id", "seg_id", "seg_text", "embedding")
    val byDoc = Window.partitionBy($"doc_id").orderBy($"seg_id")
    val prev = lag($"embedding", 1).over(byDoc)
    val cosPrev = graft.functions.GraftFunctions.cosine_sim($"embedding", prev)
    embedded
      .withColumn("boundary",
        when(isnull(prev) || cosPrev < threshold, 1L).otherwise(0L))
      .withColumn("chunk_id",
        sum($"boundary").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)) - 1)
      .groupBy($"doc_id", $"chunk_id")
      .agg(
        count(lit(1)).as("n_segments"),
        concat_ws(" ",
          transform(
            sort_array(collect_list(struct($"seg_id", $"seg_text"))),
            s => s.getField("seg_text"))).as("chunk_text"))
  }
}
