package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-frequency boilerplate detection — the n-gram form of
  * CCNet-style shared-line removal (Wenzek et al., "CCNet: Extracting
  * High Quality Monolingual Datasets from Web Crawl Data", LREC'20,
  * dedups lines by corpus frequency; the fixture corpus has no line
  * structure, so the repeated unit here is the word n-gram).
  * A passage that recurs across ≥ minDf distinct documents (headers,
  * footers, navigation chrome, license blurbs) is boilerplate; the
  * per-document boilerplate RATIO is a curation signal next to the
  * quality score (TextFunctions.qualityScore).
  *
  * Scale shape (100 TB):
  *  - document frequency is ONE shuffle keyed on the gram, with
  *    map-side partial counts; per-doc gram sets are deduplicated
  *    BEFORE the explode (array_distinct — no (doc, gram) distinct
  *    shuffle);
  *  - the boilerplate set (grams above the frequency threshold) is
  *    orders of magnitude smaller than the gram stream — AQE
  *    broadcasts it into the join-back, so per-doc stats are a second
  *    scan plus a broadcast hash join, never a wide shuffle;
  *  - at petabyte scale, key the frequency count on xxhash64(gram)
  *    (8-byte keys instead of ~40-byte strings; a 64-bit collision
  *    perturbs one df count with vanishing probability) — kept as
  *    strings here so the DuckDB oracle is an exact mirror.
  */
object Boilerplate {

  /** The canonical r4 convention — see [[TextFunctions.r4]]. */
  private def r4(c: Column): Column = TextFunctions.r4(c)

  /** Ordered word n-grams of `textCol` as an array column (empty when
    * the document has fewer than n tokens). 1-based slice positions —
    * mirrored by DuckDB's `toks[i:i+n-1]` inclusive slices.
    */
  def ngrams(textCol: Column, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1")
    val toks = TextFunctions.tokens(textCol)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** (gram, df) document-frequency table: in how many distinct
    * documents does each n-gram occur? Per-row `array_distinct` before
    * the explode makes the groupBy count the document frequency
    * directly — no (doc, gram) pre-distinct shuffle.
    *
    * CONTRACT: one input row per document (the documents-table shape).
    * df counts ROWS containing the gram — a doc ingested twice would
    * count twice; dedupe upstream (exactGroups/fingerprintDedup) if
    * the source can repeat, rather than paying a per-gram distinct
    * shuffle here on every corpus.
    */
  def ngramDocFreq(docs: DataFrame, textCol: String, n: Int): DataFrame =
    graft.Par.spread(docs.select(col(textCol)))
      .select(explode(array_distinct(ngrams(col(textCol), n))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))

  /** Per-document boilerplate statistics: total n-grams (with
    * multiplicity), how many of them are corpus boilerplate (occur in
    * ≥ minDf distinct docs), and the r4-rounded ratio. Documents too
    * short to form a single n-gram report zeros.
    */
  def stats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDf: Long = 3): DataFrame = {
    require(minDf >= 2, "minDf < 2 would flag every gram as boilerplate")
    val boiler = ngramDocFreq(docs, textCol, n)
      .filter(col("df") >= minDf)
      .select(col("gram"), lit(1L).as("is_boiler"))

    val exploded = graft.Par.spread(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(ngrams(col(textCol), n)).as("gram"))
    val perDoc = exploded
      .join(boiler, Seq("gram"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum(col("is_boiler")), lit(0L)).as("n_boiler"))

    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(r4(col("n_boiler").cast("double") / col("n_grams"))))
  }

  /** WITHIN-document repetition: the fraction of a document's n-grams
    * that are repeats of an earlier one — `1 − distinct/total` — the
    * Gopher-style repetition filter (Rae et al., "Scaling Language
    * Models", 2021, §A1.1: duplicate-n-gram fraction): a looping
    * generator or scraped chrome repeats itself long before it trips a
    * corpus-frequency threshold. One single-pass codegen scalar
    * ([[graft.functions.RepetitionScore]] — no gram-array
    * materialization; the composed `ngrams`/`array_distinct` form
    * built three arrays per row to read two lengths) — no shuffle, no
    * corpus pass; r4-rounded for the cross-engine gate. Documents with
    * < n tokens score 0.
    */
  def repetitionRatio(textCol: Column, n: Int): Column =
    graft.functions.RepetitionScore.repetition_score(textCol, n)
}
