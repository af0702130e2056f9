package graft.operators

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Holt double exponential smoothing (level + trend) over a daily
  * series, in integer fixed point — the forecasting-baseline
  * companion to [[Ewma]]: where EWMA tracks a level, Holt also
  * carries a trend state, so the one-step forecast level + trend is
  * meaningful for drifting series (daily revenue, corpus growth).
  *
  * Recurrence (α = 1/alphaDen, β = 1/betaDen), observations are
  * consecutive points of the series (calendar gaps are not filled —
  * the business-day smoothing convention):
  *   d_t = fdiv(x_t − l_{t−1} − b_{t−1}, alphaDen)
  *   l_t = l_{t−1} + b_{t−1} + d_t
  *   b_t = b_{t−1} + fdiv(d_t, betaDen)
  * with l_1 = x_1, b_1 = 0. Every step is [[LogReg.fdiv]] integer
  * algebra, so the whole trajectory replays as a RECURSIVE CTE in
  * the oracle (the q168 pattern with a two-component carry).
  *
  * Scale shape: the [[SeriesFold.series]] single-task gather of the
  * day-count-bounded series; the recurrence is [[step]].
  */
object Holt {

  /** Row shape of [[holtWinters]] (Encoders.tuple caps at arity 5). */
  final case class HwRow(
      day: Date, xq: Long, level: Long, trend: Long, sUsed: Long,
      fitted: Long)

  /** (level, trend, any-observation-seen). */
  final case class HState(l: Long, b: Long, seen: Boolean)

  val Start = HState(0L, 0L, seen = false)

  /** One level + trend step: the first observation seeds the level. */
  def step(alphaDen: Long, betaDen: Long)(st: HState, xq: Long): HState =
    if (!st.seen) HState(xq, 0L, seen = true)
    else {
      val d = LogReg.fdiv(xq - st.l - st.b, alphaDen)
      HState(st.l + st.b + d, st.b + LogReg.fdiv(d, betaDen), seen = true)
    }

  /** (day, xq, level, trend, forecast) per observation, ordered by
    * day; `forecast` is the one-step-ahead level + trend.
    */
  def smooth(
      series: DataFrame,
      dayCol: String,
      valCol: String,
      alphaDen: Long,
      betaDen: Long): DataFrame = {
    require(alphaDen >= 1L && betaDen >= 1L)
    SeriesFold.series(series, dayCol, valCol) { rows =>
      SeriesFold.scan(Start, rows.iterator) { case (st, (day, xq)) =>
        val s = step(alphaDen, betaDen)(st, xq)
        (s, (day, xq, s.l, s.b, s.l + s.b))
      }
    }(Encoders.tuple(Encoders.DATE, Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong))
      .toDF(dayCol, valCol, "level", "trend", "forecast")
      .orderBy(col(dayCol))
  }

  /** Holt–Winters ADDITIVE seasonal smoothing (level + trend + a
    * `period`-slot seasonal queue) — the third member of the
    * forecasting ladder ([[Ewma]] level, [[smooth]] level+trend,
    * this one level+trend+seasonality). Observations are consecutive
    * points of the series; seasonality is BY POSITION modulo
    * `period` (the business-day convention [[smooth]] documents —
    * calendar gaps are not filled).
    *
    * Recurrence (α = 1/alphaDen, β = 1/betaDen, γ = 1/gammaDen),
    * with s⁰ the seasonal at the queue head:
    *   d_t  = fdiv(x_t − l − b − s⁰, alphaDen)
    *   l'   = l + b + d_t
    *   b'   = b + fdiv(d_t, betaDen)
    *   s'   = s⁰ + fdiv(x_t − l' − s⁰, gammaDen)   (appended, queue
    *          rotates)
    * initialized from the first `period` observations: l₀ =
    * fdiv(Σx, period), b₀ = 0, sᵢ = xᵢ − l₀. Every step is exact
    * [[LogReg.fdiv]] integer algebra, so the trajectory replays as a
    * RECURSIVE CTE carrying the rotating seasonal slots as columns.
    *
    * Returns one row per observation AFTER the warm-up window:
    * (day, xq, level, trend, s_used, fitted), fitted = pre-update
    * l + b + s⁰ — the one-step-ahead prediction the previous state
    * made for this observation. Runs in one day-count-bounded task
    * (the [[smooth]] scale shape).
    */
  def holtWinters(
      series: DataFrame,
      dayCol: String,
      valCol: String,
      alphaDen: Long,
      betaDen: Long,
      gammaDen: Long,
      period: Int = 7): DataFrame = {
    require(alphaDen >= 1L && betaDen >= 1L && gammaDen >= 1L && period >= 2)
    SeriesFold.series(series, dayCol, valCol) { rows =>
      if (rows.length <= period) Iterator.empty
      else {
        val warm = rows.take(period).map(_._2)
        val l0 = LogReg.fdiv(warm.sum, period.toLong)
        val sq = scala.collection.mutable.Queue.from(warm.map(_ - l0))
        // level + trend is the Holt step on the deseasonalized value
        SeriesFold.scan(HState(l0, 0L, seen = true), rows.iterator.drop(period)) {
          case (st, (day, xq)) =>
            val s0 = sq.dequeue()
            val s = step(alphaDen, betaDen)(st, xq - s0)
            sq.enqueue(s0 + LogReg.fdiv(xq - s.l - s0, gammaDen))
            (s, HwRow(day, xq, s.l, s.b, s0, st.l + st.b + s0))
        }
      }
    }(Encoders.product[HwRow])
      .toDF(dayCol, valCol, "level", "trend", "s_used", "fitted")
      .orderBy(col(dayCol))
  }
}
