package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Integer exponentially-weighted moving average over per-key event
  * streams — the smoothing primitive behind rate limiting, anomaly
  * baselines, and engagement scores, kept in fixed point so the
  * sequential recurrence replays exactly in oracle SQL (a recursive
  * CTE) — floats would drift between engines after a few steps.
  *
  * Recurrence (α = 1/[[AlphaDen]]):
  *   s_1 = x_1,   s_t = s_{t−1} + fdiv(x_t − s_{t−1}, AlphaDen)
  * over x quantized to centi-units (floor(v·100 + ½) — the fixture's
  * `value` column is 2-decimal money). fdiv is [[LogReg.fdiv]]
  * (floored IEEE quotient, exact under 2^53 — these operands are
  * ≤ 2^16), so every step is engine-independent integer algebra.
  *
  * Scale shape: ONE shuffle on the key; each group folds its own
  * (bounded — events-per-user, not corpus-sized) slice sorted by
  * (ts, eventId). This is the mapGroups tier (SURVEY §2.2 preference
  * order): a per-key sequential recurrence with a data-dependent
  * carry is exactly what KeyValueGroupedDataset exists for — no
  * window can express the floored non-linear carry, and no state
  * beyond one group's rows is ever resident.
  */
object Ewma {

  /** α denominator: smoothing 1/8 per step. */
  val AlphaDen = 8L

  /** (sequence ordinal so far, current smoothed state). */
  final case class UserState(rn: Long, s: Long)

  val Start = UserState(0L, 0L)

  /** One EWMA step: the first observation seeds the state. */
  def step(st: UserState, xq: Long): UserState =
    UserState(st.rn + 1L,
      if (st.rn == 0L) xq else st.s + LogReg.fdiv(xq - st.s, AlphaDen))

  /** (userId, rn, eventId, xq, ewma) per event, rn the 1-based
    * per-user sequence ordinal by (ts, eventId).
    */
  def ewma(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val base = events.select(
      col(userCol).cast("long").as("user_id"),
      col(idCol).cast("long").as("event_id"),
      floor(col(valueCol) * 100 + lit(0.5)).cast("long").as("xq"),
      row_number().over(
        Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol)))
        .cast("long").as("rn"))
    base.as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (u, it) =>
        // rn: contiguous 1..n, so the state's ordinal is the row's
        SeriesFold.scan(Start, it.toArray.sortBy(_._4).iterator) {
          case (st, (_, eventId, xq, rn)) =>
            val s = step(st, xq)
            (s, (u, rn, eventId, xq, s.s))
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .toDF("user_id", "rn", "event_id", "xq", "ewma")
      .orderBy(col("user_id"), col("rn"))
  }
}
