package graft.operators

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Local-level Kalman filter over a day-keyed series — the
  * state-space member of the SPC/trend family: [[Cusum]] alarms on
  * drift, [[Holt]] fits trend+level with fixed gains, the Kalman
  * filter LEARNS its gain from the noise model (gain starts high and
  * anneals to the steady state as the state estimate firms up).
  *
  * Model: yₜ = ℓₜ + ε (var R), ℓₜ = ℓₜ₋₁ + η (var Q). Fixed-point
  * recurrence (the replay discipline — no drifting doubles in state):
  *  - predict p⁺ = p + Q (exact);
  *  - gain kₜ = round(10⁶·p⁺/(p⁺+R)) — exact round-half-up integer
  *    division (operands positive, both engines identical);
  *  - level ℓ += round(kₜ·(yₜ−ℓ)/10⁶) — the one signed rounding,
  *    floor(CAST(v AS DOUBLE)/10⁶ + 0.5) with |v| < 2⁵³ (cents diff
  *    ~10⁸ × gain ≤ 10⁶ → ≤ 10¹⁴), identical cross-engine;
  *  - variance p ← round((10⁶−kₜ)·p⁺/10⁶) — exact integers.
  * The whole trajectory therefore replays as a recursive CTE
  * value-for-value (the q181 CUSUM pattern). Initialization:
  * ℓ₁ = y₁, p₁ = P0, k₁ = 0 (no correction on the first day).
  *
  * Scale shape: the [[SeriesFold.series]] single-task gather of the
  * day-count-bounded series; the recurrence is [[step]].
  *
  * Returns one row per day: (day, xq, level, resid, k_micro).
  */
object Kalman {

  val R = 1000000L        // observation-noise variance unit
  val Q = 100000L         // process-noise variance (R/10)
  val P0 = 1000000L       // prior level variance

  final case class KalmanRow(
      day: Date, xq: Long, level: Long, resid: Long, k_micro: Long)

  /** (level, variance, any-observation-seen). */
  final case class KState(l: Long, p: Long, seen: Boolean)

  val Start = KState(0L, P0, seen = false)

  /** One predict + correct step; returns the gain k_micro (0 on the
    * first observation, which seeds the level). */
  def step(st: KState, y: Long): (KState, Long) =
    if (!st.seen) (KState(y, P0, seen = true), 0L)
    else {
      // predict: p grows by Q, then correct with gain k
      val pPred = st.p + Q
      val k = (2L * pPred * 1000000L + (pPred + R)) / (2L * (pPred + R))
      val l = st.l + math.floor((k * (y - st.l)).toDouble / 1000000.0 + 0.5).toLong
      val p = (2L * (1000000L - k) * pPred + 1000000L) / (2L * 1000000L)
      (KState(l, p, seen = true), k)
    }

  def localLevel(series: DataFrame, dayCol: String, valCol: String): DataFrame =
    SeriesFold.series(series, dayCol, valCol) { rows =>
      SeriesFold.scan(Start, rows.iterator) { case (st, (day, y)) =>
        val (s, k) = step(st, y)
        (s, KalmanRow(day, y, s.l, y - s.l, k))
      }
    }(Encoders.product[KalmanRow])
      .toDF(dayCol, valCol, "level", "resid", "k_micro")
      .orderBy(col(dayCol))
}
