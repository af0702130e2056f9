package graft.functions

import graft.operators.Sampling
import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007) as a
  * custom mergeable `Aggregator` — the second member of the custom-
  * sketch family next to [[CountMinSketch]], and the first whose
  * REGISTERS AND ESTIMATE are fully DuckDB-oracle-replayable: the
  * built-in HLL++/KLL queries (q35/q43) are rows-only by design
  * because Spark's sketch internals aren't SQL-expressible, whereas
  * this sketch is built on the repo's portable integer hash
  * ([[Sampling.hashBits]]) with an arithmetic-only register split, so
  * an oracle can recompute every register with integer CASE logic and
  * hash-match the estimate (q140).
  *
  * Layout: p = 10 ⇒ m = 1024 registers; register j = top 10 hash
  * bits, rho = leading-zero rank of the remaining 22 bits (1..23).
  * Standard error 1.04/√m ≈ 3.25%.
  *
  * Distributed-correctness property (the [[CountMinSketch]] monoid
  * discipline): the state is a commutative idempotent monoid
  * (element-wise max), so the merged registers — and the estimate
  * read from them — are IDENTICAL under any partition layout, merge
  * order, speculative re-execution, or duplicated input (max is
  * idempotent: re-inserting a key is a no-op, which also makes the
  * sketch safe under at-least-once streaming delivery).
  *
  * 100 TB shape: one scan, map-side partial merge of 4 KB states, a
  * shuffle that moves one 4 KB array per group per map partition —
  * the classic replacement for count(distinct) whose Expand plan
  * doubles the shuffled volume. NULL keys are skipped (matches
  * Spark's approx_count_distinct and the r4 ADVICE convention).
  *
  * VALID RANGE — the honest bound the 32-bit hash imposes: per-GROUP
  * cardinality up to ~1/30·2^32 ≈ 1.4e8 distinct keys (hash
  * collisions then shave < 2% and the estimator is in its calibrated
  * regime); past that the estimate biases low and saturates near
  * 2^32. Row count and group count are unbounded — only per-group
  * distinct cardinality is. The 32-bit hash is a deliberate trade:
  * it is what makes the registers EXACTLY replayable by integer SQL
  * (the q140 oracle property no 64-bit-hash sketch here could have).
  * For larger groups, shard the key space across s salted sketches
  * (estimates add; each shard stays under the bound) or use the
  * rows-only built-in HLL++ (q35).
  */
object HyperLogLog {

  val P = 10
  val M = 1024
  val WBits = 22                       // 32 − P
  val WMask: Long = (1L << WBits) - 1  // 4194303
  /** Bias-correction constant α_m · m² (Flajolet eq. 3, m = 1024).
    * Embedded as a double literal in oracle SQL via toString —
    * shortest-repr roundtrip gives both engines the identical double.
    */
  val AlphaM2: Double = 0.7213 / (1.0 + 1.079 / M) * M * M

  /** Leading-zero rank of the low [[WBits]] bits: 1 for a leading
    * one, …, WBits+1 for w = 0 (all zeros).
    */
  def rho(w: Long): Int =
    if (w == 0L) WBits + 1
    else WBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))

  private object HllAgg extends Aggregator[java.lang.Long, Array[Int], Array[Int]] {
    def zero: Array[Int] = new Array[Int](M)
    def reduce(st: Array[Int], key: java.lang.Long): Array[Int] = {
      if (key != null) {                 // null-skip (boxed input type)
        val h = Sampling.hashBitsScalar(key.longValue())
        val j = (h >> WBits).toInt
        val r = rho(h & WMask)
        if (r > st(j)) st(j) = r
      }
      st
    }
    def merge(x: Array[Int], y: Array[Int]): Array[Int] = {
      var i = 0
      while (i < M) { if (y(i) > x(i)) x(i) = y(i); i += 1 }
      x
    }
    def finish(st: Array[Int]): Array[Int] = st
    // native array<int> codec — the buffer crosses the wire on every
    // map-side partial merge
    def bufferEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    def outputEncoder: Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
  }

  /** `hll_sketch(longCol)` aggregate column: the m-register array for
    * the group.
    */
  def sketch(c: Column): Column = udaf(HllAgg).withName("hll_sketch").apply(c)

  /** Cardinality estimate from a register-array column, as a pure
    * Catalyst expression (r4-rounded): raw = α·m² / Σ 2^(−M_j) with
    * the small-range linear-counting correction m·ln(m/V) when raw ≤
    * 2.5m and V (zero registers) > 0. Every 2^(−M_j) term is an exact
    * dyadic double and the Σ spans < 2^52 dynamic range, so the sum
    * is EXACT and order-independent — the oracle's arbitrary-order
    * sum lands on the identical double.
    */
  def estimate(regs: Column): Column = {
    // 2^(−r) for r = 0..23 as a literal LUT of exact dyadic doubles
    // (the Scala shiftleft() helper only takes a literal shift)
    val pows = typedlit((0 to WBits + 1).map(r => 1.0 / (1L << r)))
    val s = aggregate(regs, lit(0.0),
      (acc, r) => acc + element_at(pows, r + 1))
    val v = size(filter(regs, r => r === 0))
    val raw = lit(AlphaM2) / s
    val corrected = when(raw <= lit(2.5 * M) && v > 0,
      lit(M.toDouble) * log(lit(M.toDouble) / v.cast("double"))).otherwise(raw)
    TextFunctions.r4(corrected)
  }

  /** Σ of all registers — cheap register-content checksum (exact
    * integer, pins the full register state in an oracle-comparable
    * scalar).
    */
  def sumRho(regs: Column): Column =
    aggregate(regs, lit(0L), (acc, r) => acc + r)

  /** Count of untouched (zero) registers. */
  def vZero(regs: Column): Column =
    size(filter(regs, r => r === 0)).cast("long")

  // ------------------------------------------------------------------
  // Oracle SQL mirrors

  /** Register index from a raw 32-bit hash expression. */
  def jSql(hExpr: String): String = s"(($hExpr) >> $WBits)"

  /** Integer-only CASE cascade computing [[rho]] of the low 22 bits —
    * no log2/ln anywhere near a power-of-two boundary, so the oracle's
    * rho is exact, like the Scala numberOfLeadingZeros.
    */
  def rhoCaseSql(wExpr: String): String = {
    val whens = (1 to WBits)
      .map(r => s"WHEN $wExpr >= ${1L << (WBits - r)} THEN $r")
      .mkString(" ")
    s"(CASE WHEN $wExpr = 0 THEN ${WBits + 1} $whens END)"
  }

  /** SQL text of [[estimate]] given per-group aggregates over the
    * PRESENT registers (c = register count, sPresent = Σ 2^(−m) over
    * them): absent registers contribute 2^0 = 1 each.
    */
  def estimateSql(cExpr: String, sPresentExpr: String): String = {
    val s = s"($sPresentExpr + ($M - $cExpr) * 1.0)"
    val v = s"($M - $cExpr)"
    val raw = s"($AlphaM2 / $s)"
    s"floor((CASE WHEN $raw <= ${2.5 * M} AND $v > 0 " +
      s"THEN $M.0 * ln($M.0 / $v) ELSE $raw END) * 10000 + 0.5) / 10000"
  }
}
