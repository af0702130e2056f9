package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass duplicate-n-gram fraction — the Gopher repetition
  * filter's inner metric (Rae et al., "Scaling Language Models", 2021,
  * §A1.1) as one codegen scalar: `r4(1 − distinct/total)` over word
  * n-grams, 0.0 when the document has fewer than n tokens.
  *
  * Replaces the composed-Catalyst form (`ngrams` → `array_distinct` →
  * sizes), which materialized THREE arrays of concatenated gram
  * strings per row to read two lengths — measured as the #3 hottest
  * query in the round-3 bench (10.9 s cold at sf0.1) with zero shuffle,
  * i.e. pure allocation waste. This pass allocates one int id per
  * token (tokens interned on first sight) and one long per gram
  * window, sorts the window keys, and counts distinct in place.
  *
  * Semantics are IDENTICAL to the composed form, which the q63 oracle
  * pins: tokens are maximal runs of non-`\s` characters (Java regex
  * `\s` = space, tab, LF, VT, FF, CR — the `split(trim(text), "\\s+")`
  * + length>0 convention of [[TextFunctions.tokens]]); grams compare
  * by their joined-string equality, which (tokens being
  * whitespace-free) is exactly token-sequence equality; the ratio is
  * `floor((1.0 − d/t)·10000 + 0.5)/10000` in the same double
  * arithmetic; null/blank/short input scores 0.0.
  */
case class RepetitionScore(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n-gram size must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"repetition_score requires a string argument, got ${child.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "repetition_score"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    RepetitionScore.score(
      if (v == null) null else v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        final double ${ev.value} = graft.functions.RepetitionScore.score(
          ${c.isNull} ? null : ${c.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionScore {

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** The whole metric for one document; static so generated code calls
    * straight into compiled Scala (no interpreted expression tree).
    */
  def score(s: UTF8String, n: Int): Double = {
    if (s == null) return 0.0
    val str = s.toString
    val len = str.length
    // ---- tokenize + intern: token stream as int ids
    val ids = new java.util.ArrayList[Integer]()
    val intern = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(str.charAt(i))) i += 1
        val tok = str.substring(start, i)
        var id = intern.get(tok)
        if (id == null) { id = Integer.valueOf(intern.size()); intern.put(tok, id) }
        ids.add(id)
      }
    }
    val nToks = ids.size()
    val total = nToks - n + 1
    if (total <= 0) return 0.0

    // ---- distinct gram count: pack each window of n ids into one
    // long (ids are dense, so bits-per-id is small), sort, scan. Falls
    // back to a string set only when n·bits can't fit 63 bits — a
    // document with billions of distinct-token combinations.
    val maxId = intern.size() - 1
    val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1, maxId).toLong))
    val distinct =
      if (bits * n <= 63) {
        val keys = new Array[Long](total)
        var w = 0
        while (w < total) {
          var key = 0L
          var j = 0
          while (j < n) { key = (key << bits) | ids.get(w + j).longValue(); j += 1 }
          keys(w) = key
          w += 1
        }
        java.util.Arrays.sort(keys)
        var d = 1
        var t = 1
        while (t < total) { if (keys(t) != keys(t - 1)) d += 1; t += 1 }
        d
      } else {
        val set = new java.util.HashSet[String]()
        var w = 0
        while (w < total) {
          val sb = new java.lang.StringBuilder()
          var j = 0
          while (j < n) { if (j > 0) sb.append(' '); sb.append(ids.get(w + j)); j += 1 }
          set.add(sb.toString)
          w += 1
        }
        set.size()
      }

    val x = 1.0 - distinct.toDouble / total.toDouble
    math.floor(x * 10000.0 + 0.5) / 10000.0
  }

  def repetition_score(text: Column, n: Int): Column =
    column(RepetitionScore(expression(text), n))
}
