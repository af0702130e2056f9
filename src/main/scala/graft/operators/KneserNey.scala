package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interpolated Kneser–Ney bigram language model — the
  * quality-perplexity upgrade over [[LanguageModel]]'s unigram scorer.
  * CCNet-style curation filters documents on the perplexity of a
  * small n-gram LM (Wenzek et al. 2020 use KenLM, whose default
  * smoothing is exactly interpolated KN, Kneser & Ney 1995 / Chen &
  * Goodman 1998); a unigram model cannot see word-ORDER gibberish
  * ("the the the of of" scores fluently), the bigram model can.
  *
  * Reference seam: the reference stops at embedding inference
  * (`03-model-inference-on-chunks.py:131`); LM-based corpus scoring is
  * the LLM-data-pipeline extension (SURVEY §2.12).
  *
  * Exactness: the discount is FIXED at d = 3/4, so with integer
  * counts every interpolated-KN probability is an exact integer
  * rational once multiplied through by 4·B (B = distinct bigrams):
  *
  *   P(w|v) = (max(c(v,w) − ¾, 0) + ¾·N1+(v,·)·N1+(·,w)/B) / c(v)
  *          = (max(4·c(v,w) − 3, 0)·B + 3·N1+(v,·)·N1+(·,w))
  *            / (4·c(v)·B)                      — num/den BIGINTs.
  *
  * Both engines build the identical BIGINTs, the num/den cast and
  * divide are exactly-rounded IEEE steps, and the one transcendental
  * (ln) is r4-rounded — the q96/q137 libm-ulp discipline. Headroom:
  * num < 4·c(v,w)·B + 3·V² needs c·B < 2^61 — at ~10^9-token corpora
  * with ~10^9 distinct bigrams move num/den to decimal(38).
  *
  * KN normalization Σ_w P(w|v) = 1 holds EXACTLY in this integer
  * form: Σ_w num(v,w) = den(v) over the continuation vocabulary
  * (proved as a BigInt identity in KneserNeySpec — the discounted
  * mass d·N1+(v,·) is redistributed with nothing lost to rounding).
  *
  * Sentence starts: each document contributes one (⟨bos⟩, first
  * token) bigram; the BOS marker contains spaces, which a space-split
  * token never does, so it cannot collide with corpus vocabulary.
  *
  * Scale shape: the bigram TABLE is distinct-bigram-sized (one
  * map-side-combined aggregate of the token stream) and joins the
  * scoring stream UNHINTED — AQE broadcasts it while it fits and
  * falls back to a shuffle join at corpus scale; the context and
  * continuation tables are vocabulary-sized and broadcast
  * explicitly; B rides a 1-row crossJoin (never a collect). Scoring
  * is one pass over the corpus.
  */
object KneserNey {

  /** BOS context marker — contains spaces, unreachable by [[
    * graft.functions.TextFunctions.spaceTokens]] output.
    */
  val Bos = " bos "

  /** Trained model tables: `bigrams` (v, w, c_vw) — persisted,
    * released by the caller's clearCache (repo convention);
    * `contexts` (v, c_v, n1fol); `continuations` (w, n1pre);
    * `totalBigrams` 1-row (__B).
    */
  final case class Model(
      bigrams: DataFrame,
      contexts: DataFrame,
      continuations: DataFrame,
      totalBigrams: DataFrame)

  /** (id, v, w) bigram stream: per document, (BOS, t₁) then
    * (tᵢ₋₁, tᵢ) — a narrow zip of the shifted token array with
    * itself, no join, no window.
    */
  def bigramStream(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.functions.TextFunctions.spaceTokens(col(textCol))
    graft.Par.spread(docs.select(col(idCol).as("id"), col(textCol)))
      .withColumn("__toks", toks)
      .filter(size(col("__toks")) > 0)
      .withColumn("__ctx",
        concat(array(lit(Bos)),
          slice(col("__toks"), lit(1), size(col("__toks")) - 1)))
      .select(col("id"),
        explode(zip_with(col("__ctx"), col("__toks"),
          (v, w) => struct(v.as("v"), w.as("w")))).as("__bg"))
      .select(col("id"), col("__bg.v").as("v"), col("__bg.w").as("w"))
  }

  /** Count tables from a bigram stream. The bigram table feeds three
    * downstream aggregates and the scoring join — persisted.
    */
  def fit(stream: DataFrame): Model = {
    val bg = stream.groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("c_vw"))
      .persist()
    val ctx = bg.groupBy(col("v"))
      .agg(sum(col("c_vw")).cast("long").as("c_v"), count(lit(1)).as("n1fol"))
    val cont = bg.groupBy(col("w")).agg(count(lit(1)).as("n1pre"))
    val tot = bg.agg(count(lit(1)).as("__B"))
    Model(bg, ctx, cont, tot)
  }

  /** `pairs` (…, v, w) with exact-rational columns `num`/`den`
    * appended (P(w|v) = num/den). Fallbacks, all integer and mirrored
    * by any replaying engine: unseen (v,w) under a seen context uses
    * the pure continuation term; an unseen CONTEXT backs off to
    * P = N1+(·,w)/B; a word with no continuation count floors at
    * 1/(2B).
    */
  def scorePairs(pairs: DataFrame, model: Model): DataFrame = {
    val joined = pairs
      .join(model.bigrams, Seq("v", "w"), "left")
      .join(broadcast(model.contexts), Seq("v"), "left")
      .join(broadcast(model.continuations), Seq("w"), "left")
      .crossJoin(broadcast(model.totalBigrams))
    val b = col("__B")
    val seenCtx = col("c_v").isNotNull
    val n1pre = coalesce(col("n1pre"), lit(0L))
    val cvw = coalesce(col("c_vw"), lit(0L))
    val num = when(seenCtx,
        greatest(lit(4L) * cvw - 3L, lit(0L)) * b + lit(3L) * col("n1fol") * n1pre)
      .otherwise(when(n1pre > 0L, n1pre * lit(2L)).otherwise(lit(1L)))
    val den = when(seenCtx, lit(4L) * col("c_v") * b).otherwise(lit(2L) * b)
    joined
      .withColumn("num", num)
      .withColumn("den", den)
      .drop("c_vw", "c_v", "n1fol", "n1pre", "__B")
  }

  /** Per-document KN cross-entropy, the corpus scoring itself:
    * (doc_id → id, n_bigrams, avg_nll), avg_nll in nats, r4-rounded;
    * exp(avg_nll) is the doc's bigram perplexity. Documents with no
    * tokens produce no row (no bigram to score — the q96 contract).
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val model = fit(bigramStream(docs, idCol, textCol))
    scorePairs(bigramStream(docs, idCol, textCol), model)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.TextFunctions.r4(
          avg(-log(col("num").cast("double") / col("den").cast("double"))))
          .as("avg_nll"))
  }
}
