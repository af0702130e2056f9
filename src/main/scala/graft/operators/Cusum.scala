package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Two-sided CUSUM changepoint detection over a daily series — the
  * classic SPC drift alarm ("did ingest volume shift, and when")
  * next to [[Ewma]] (smoothing) and [[Seasonal]] (decomposition),
  * in integer fixed point so the max(0, ·) recurrence replays as a
  * recursive CTE.
  *
  * With μ = fdiv(Σx, n) (the in-sample reference level),
  * slack k = fdiv(μ, [[SlackDen]]) and threshold h = fdiv(μ,
  * [[ThreshDen]]):
  *   su_t = max(0, su_{t−1} + x_t − μ − k)   (upward drift)
  *   sl_t = max(0, sl_{t−1} + μ − x_t − k)   (downward drift)
  * with su_0 = sl_0 = 0; a row alarms while either side exceeds h.
  * Every step is exact integer algebra ([[LogReg.fdiv]] floors
  * identically in both engines; max ≡ GREATEST).
  *
  * Scale shape: the [[SeriesFold.series]] single-task gather of the
  * day-count-bounded series; the recurrence is [[step]].
  */
object Cusum {

  /** slack = μ/20 (5% of the reference level per step). */
  val SlackDen = 20L

  /** alarm threshold = μ/2. */
  val ThreshDen = 2L

  /** Cumulative sums of the upward and downward sides. */
  final case class SideState(su: Long, sl: Long)

  val Start = SideState(0L, 0L)

  /** One two-sided step against reference `mu`, slack and threshold;
    * returns whether either side exceeds the threshold. */
  def step(mu: Long, slack: Long, thresh: Long)(st: SideState, xq: Long)
      : (SideState, Boolean) = {
    val s = SideState(math.max(0L, st.su + xq - mu - slack),
      math.max(0L, st.sl + mu - xq - slack))
    (s, s.su > thresh || s.sl > thresh)
  }

  /** (day, xq, su, sl, alarm) per day, ordered by day. */
  def detect(series: DataFrame, dayCol: String, valCol: String): DataFrame =
    SeriesFold.series(series, dayCol, valCol) { rows =>
      val mu = LogReg.fdiv(rows.map(_._2).sum, rows.length.toLong)
      val fold = step(mu, LogReg.fdiv(mu, SlackDen), LogReg.fdiv(mu, ThreshDen)) _
      SeriesFold.scan(Start, rows.iterator) { case (st, (day, xq)) =>
        val (s, alarm) = fold(st, xq)
        (s, (day, xq, s.su, s.sl, alarm))
      }
    }(Encoders.tuple(Encoders.DATE, Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaBoolean))
      .toDF(dayCol, valCol, "su", "sl", "alarm")
      .orderBy(col(dayCol))
}
