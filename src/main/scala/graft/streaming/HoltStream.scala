package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.{Holt, SeriesFold}

/** Streaming shape of [[graft.operators.Holt.smooth]]: per-key
  * double-exponential (level + trend) smoothing carried across
  * micro-batches — the TRENDED member of the streaming-smoother
  * ladder ([[EwmaStream]] fixed-gain level, [[KalmanStream]]
  * annealed-gain level, this one level + trend), for live
  * per-series forecasting ("where is this series heading next
  * step") over millions of keys.
  *
  * State per key is (level, trend, seen) — exact fdiv integer fixed
  * point, O(keys) total, exactly the batch operator's fold state.
  * Rows apply in (day, eventId) order; the step is [[Holt.step]], so
  * parity with [[Holt.smooth]] is the [[graft.operators.SeriesFold]]
  * contract.
  */
object HoltStream {

  final case class HIn(key: String, eventId: Long, day: Long, xq: Long)

  final case class HOut(
      key: String, day: Long, xq: Long, level: Long, trend: Long,
      forecast: Long)

  type HState = Holt.HState
  val HState = Holt.HState

  def smooth(
      in: Dataset[HIn],
      alphaDen: Long,
      betaDen: Long): Dataset[HOut] = {
    require(alphaDen >= 1L && betaDen >= 1L)
    val spark = in.sparkSession
    import spark.implicits._
    SeriesFold.stream(in)(_.key, r => (r.day, r.eventId), Holt.Start) { (k, st, r) =>
      val s = Holt.step(alphaDen, betaDen)(st, r.xq)
      (s, HOut(k, r.day, r.xq, s.l, s.b, s.l + s.b))
    }
  }
}
