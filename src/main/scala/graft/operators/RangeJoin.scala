package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval-overlap join on integer coordinates (days, epoch seconds,
  * positions) WITHOUT a Cartesian product: both sides explode their
  * intervals onto a fixed-width grid of bins, meet in an equi-join on
  * the bin id, and each true pair is emitted EXACTLY ONCE by keeping
  * it only at the canonical bin `max(floor(lStart/w), floor(rStart/w))`
  * — the bin of the overlap's left edge, which both intervals provably
  * cover. No `distinct` pass needed: dedup is a cheap filter inside
  * the join, not a shuffle after it.
  *
  * Scale shape: cost is Σ_bins |L_b|·|R_b| — the grid turns a non-equi
  * join (which Spark would execute as BroadcastNestedLoop or a full
  * cartesian) into a shuffled equi-join whose volume is governed by
  * bin co-occupancy. Pick `binWidth` ≈ the typical interval length:
  * each interval then explodes to ~2 bins (duplication factor ≤
  * len/w + 2). A degenerately long interval (≫ w) explodes to many
  * bins but stays correct; for heavy-tailed interval lengths, split
  * the long tail into its own pass with a coarser grid (same
  * two-level idea as the salted-join operator).
  */
object RangeJoin {

  /** Joins rows whose closed integer intervals [lStart,lEnd] and
    * [rStart,rEnd] overlap. Column-name based (the two frames must
    * not share column names); returns all left + right columns.
    */
  def overlapJoin(
      left: DataFrame, lStart: String, lEnd: String,
      right: DataFrame, rStart: String, rEnd: String,
      binWidth: Int): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val w = lit(binWidth)
    def binned(df: DataFrame, s: String, e: String, bin: String): DataFrame =
      df.withColumn(bin,
        explode(sequence(floor(col(s) / w), floor(col(e) / w))))
    val lb = binned(left, lStart, lEnd, "__lbin")
    val rb = binned(right, rStart, rEnd, "__rbin")
    lb.join(rb,
        col("__lbin") === col("__rbin") &&
          col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
          // canonical-bin dedup: emit only where the pair's overlap begins
          col("__lbin") === greatest(floor(col(lStart) / w), floor(col(rStart) / w)))
      .drop("__lbin", "__rbin")
  }

  /** Point-in-interval join: rows of `points` whose integer `p` lies
    * in [rStart,rEnd]. The point occupies exactly one bin, so no
    * dedup condition is needed — each containing interval meets the
    * point only at the point's bin.
    */
  def pointInInterval(
      points: DataFrame, p: String,
      intervals: DataFrame, rStart: String, rEnd: String,
      binWidth: Int): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val w = lit(binWidth)
    val pb = points.withColumn("__pbin", floor(col(p) / w))
    val ib = intervals.withColumn("__ibin",
      explode(sequence(floor(col(rStart) / w), floor(col(rEnd) / w))))
    pb.join(ib,
        col("__pbin") === col("__ibin") &&
          col(p) >= col(rStart) && col(p) <= col(rEnd))
      .drop("__pbin", "__ibin")
  }
}
