package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for LLM training-data pipelines
  * (project north star: language-ID, quality scoring, token counting,
  * fingerprinting — BASELINE.json). All pure Catalyst expressions
  * (split/filter/transform/aggregate — codegen-friendly, no UDFs), so
  * they vectorize inside whole-stage codegen and their semantics are
  * mirrorable in the DuckDB oracle.
  */
object TextFunctions {

  /** THE cross-engine-deterministic 4-decimal rounding — the "r4
    * convention", the single definition every operator and oracle
    * mirrors: floor(x·1e4 + 0.5)/1e4 evaluates the same IEEE double on
    * Spark and DuckDB, unlike round(), whose half-boundary behavior
    * differs between the engines (Spark rounds the shortest decimal
    * repr HALF_UP, DuckDB rounds the binary value) — and similarity /
    * quality ratios are small-denominator rationals that land exactly
    * on those boundaries. Any drift here must change ALL call sites
    * and oracle SQL together, which is why there is exactly one copy.
    */
  def r4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0

  /** Whitespace tokenization; null/empty/blank text → empty array
    * (Spark's split("") would yield [""], and a null input would
    * otherwise null-poison downstream argmax/ratio logic into
    * oracle-divergent results).
    */
  def tokens(text: Column): Column =
    filter(split(trim(coalesce(text, lit(""))), "\\s+"), t => length(t) > 0)

  /** Scalar twin of [[tokens]] for typed executor-side code (the BPE
    * encoder) — one tokenizer contract, not two drifting copies: a
    * subword segmenter is only valid on words produced exactly like
    * its training words. (String.trim strips a wider char class than
    * SQL trim, but every extra char it strips is \s, which the split
    * + non-empty filter discards anyway — same output.)
    */
  def tokensScalar(text: String): Array[String] =
    if (text == null) Array.empty
    else text.trim.split("\\s+").filter(_.nonEmpty)

  /** SINGLE-SPACE tokenization — the oracle-mirrorable convention
    * (DuckDB: `unnest(string_split(text, ' ')) ... WHERE length(word)
    * > 0`, the q14 pattern). Distinct from [[tokens]] (\s+ with
    * trim): a tab or newline is a token CHARACTER here, exactly as in
    * DuckDB's string_split. One copy — the space-split queries
    * (q14/q96/q103) and their hand-written oracles depend on these
    * semantics moving together. q97 (PMI) deliberately does NOT use
    * this helper: it needs POSITIONS assigned before empty tokens are
    * filtered (posexplode over the raw split, mirrored by the
    * oracle's range(0, len(ws))), so empty tokens consume position
    * slots there.
    */
  def spaceTokens(text: Column): Column =
    filter(split(coalesce(text, lit("")), " ", -1), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer pattern: contraction suffixes, then
    * space-prefixed letter runs / digit runs / punctuation runs, then
    * residual whitespace. Both Java regex (Spark) and RE2 (DuckDB)
    * resolve this alternation leftmost-first over the same character
    * classes, so counts are oracle-mirrorable. A real BPE adds a
    * learned merge table on top; the PRE-tokenizer is what determines
    * token-count statistics' shape (chars/token ≈ compression rate),
    * which is what corpus curation filters on.
    */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(coalesce(text, lit("")), lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Distinct-token ratio — repetition signal; 0 for empty docs. */
  def distinctRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(size(array_distinct(t)).cast("double") / size(t))
  }

  /** Ratio of tokens drawn from a stopword list; 0 for empty docs. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(
        size(filter(t, tok => tok.isInCollection(stopwords))).cast("double") / size(t))
  }

  /** Mean token length; 0 for empty docs. */
  def avgTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(
        aggregate(t, lit(0L), (acc, tok) => acc + length(tok)).cast("double") / size(t))
  }

  /** Heuristic document quality in [0,1] — the standard cheap
    * pre-training filters (length, repetition, stopword density,
    * token shape) combined with fixed weights. Deterministic and
    * SQL-mirrorable; NOT a learned model.
    */
  def qualityScore(text: Column, stopwords: Seq[String] = English.stopwords): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthTerm = least(nTok / 100.0, lit(1.0))
    val shapeTerm = least(avgTokenLen(text) / 8.0, lit(1.0))
    lit(0.3) * distinctRatio(text) +
      lit(0.3) * lengthTerm +
      lit(0.2) * (lit(1.0) - stopwordRatio(text, stopwords)) +
      lit(0.2) * shapeTerm
  }

  /** Content fingerprint: md5 of case/whitespace-normalized text.
    * Identical across engines (md5 hex), so exact dedup on the
    * fingerprint is oracle-checkable.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** n-gram-free language ID: score each candidate language by its
    * stopword hit count over the token stream, take the argmax
    * (alphabetical language code wins ties — deterministic). Returns
    * the language code column. A real system would use char n-gram
    * profiles; the operator shape (per-doc classify → groupBy) is
    * what matters at scale, and this heuristic is SQL-mirrorable.
    */
  def langId(text: Column, profiles: Seq[(String, Seq[String])] = LangProfiles.default): Column = {
    val t = tokens(text)
    // argmax via greatest() over (score, pri, code) structs: compared
    // field-by-field, so ties on score fall to pri — assigned so the
    // alphabetically-first language code wins (deterministic).
    val indexed = profiles.zipWithIndex.map { case ((code, words), i) =>
      struct(
        size(filter(t, tok => tok.isInCollection(words))).as("score"),
        lit(profiles.size - i).as("pri"),
        lit(code).as("code"))
    }
    greatest(indexed: _*).getField("code")
  }

  object English {
    val stopwords: Seq[String] = Seq(
      "the", "a", "an", "of", "and", "to", "in", "is", "it", "for", "on", "as", "with")
  }

  object LangProfiles {
    /** Profiles ordered alphabetically by code; earlier code wins ties
      * via the descending `pri` field in [[langId]].
      */
    val default: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
      "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it"),
      "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
      "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pour"))
  }

  // ---------- SQL surface ----------

  /** The text functions as SQL function builders: each wraps the
    * Column combinator above through the Expression↔Column bridge, so
    * `spark.sql("SELECT token_count(text) ...")` runs the IDENTICAL
    * expression tree as the DataFrame API — one implementation, two
    * surfaces. Part of [[GraftFunctions.catalogue]].
    */
  private[graft] val sqlFunctions: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.{GraftSqlBridge => ExpressionUtils}
    def fn1(f: Column => Column)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          org.apache.spark.sql.catalyst.expressions.Expression =
      exprs => ExpressionUtils.expression(f(ExpressionUtils.column(exprs.head)))
    Seq(
      "token_count" -> fn1(tokenCount),
      "bpe_token_count" -> fn1(bpeTokenCount),
      "lang_id" -> fn1(langId(_)),
      "quality_score" -> fn1(qualityScore(_)),
      "doc_fingerprint" -> fn1(fingerprint),
      // second argument is the n-gram size — must be a literal int
      "repetition_ratio" -> (exprs => ExpressionUtils.expression(
        graft.operators.Boilerplate.repetitionRatio(
          ExpressionUtils.column(exprs(0)),
          exprs(1).eval().asInstanceOf[Number].intValue))))
  }
}
