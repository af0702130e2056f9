package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Count-Min sketch as a custom mergeable Spark `Aggregator` — the
  * UDAF surface of the engine (the sketch siblings q35/q43 use
  * Spark's built-in HLL++/KLL; this one exercises CUSTOM aggregation
  * state): d×w counters, overestimate-only point queries with error
  * ≤ ε·N (ε = e/w) at probability 1 − δ (δ = e^−d).
  *
  * Distributed-correctness property (pinned by the spec): the state
  * is a commutative monoid (element-wise add), so the merged sketch —
  * and every estimate read from it — is IDENTICAL regardless of how
  * rows were partitioned or merge-ordered. That, not the space bound,
  * is what makes a sketch safe to compute at 100 TB: map-side
  * partials combine freely and a re-shuffled retry cannot change the
  * answer.
  *
  * Hashes are the textbook (a·x + b) mod p row family over a 64-bit
  * string fingerprint — deterministic constants, no RNG, so the
  * sketch is reproducible across runs and engines.
  */
object CountMinSketch {

  val Depth = 4
  val Width = 1024
  // row-hash constants are private[graft] so the q103 oracle builds
  // its DuckDB replay from the SAME values (no copy to drift)
  private[graft] val P = 2147483647L           // Mersenne prime 2^31−1
  private[graft] val A = Array(1103515245L, 22695477L, 69069L, 1664525L)
  private[graft] val B = Array(12345L, 1L, 362437L, 1013904223L)

  /** 64-bit FNV-1a fingerprint of the UTF-8 bytes — stable across JVMs
    * (String.hashCode would also be stable, but only 32 bits).
    */
  private[functions] def fingerprint(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private[functions] def bucket(row: Int, s: String): Int = {
    val x = fingerprint(s) & Long.MaxValue     // non-negative
    (((A(row) * (x % P) + B(row)) % P) % Width).toInt
  }

  /** Point-estimate of `item`'s count from a flattened sketch. */
  def estimate(sketch: Array[Long], item: String): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < Depth) {
      val c = sketch(r * Width + bucket(r, item))
      if (c < best) best = c
      r += 1
    }
    best
  }

  private object SketchAgg extends Aggregator[String, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](Depth * Width)
    def reduce(st: Array[Long], item: String): Array[Long] = {
      if (item != null) {
        var r = 0
        while (r < Depth) { st(r * Width + bucket(r, item)) += 1; r += 1 }
      }
      st
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    def finish(st: Array[Long]): Array[Long] = st
    // native array<bigint> codec — NOT kryo/java serialization: the
    // buffer crosses the wire on every map-side partial merge
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** `cms_sketch(strCol)` aggregate column: one flattened d×w counter
    * array for the group.
    */
  def sketch(c: Column): Column = udaf(SketchAgg).withName("cms_sketch").apply(c)

  /** Scalar estimate column over a sketch array column (procedural by
    * nature — d array probes per row; applied to k-sized frames, not
    * the corpus).
    */
  def estimateCol(sketchCol: Column, item: Column): Column = {
    val f = org.apache.spark.sql.functions.udf(
      (sk: Seq[Long], s: String) =>
        if (sk == null || s == null) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(estimate(sk.toArray, s)))
    f(sketchCol, item)
  }
}
