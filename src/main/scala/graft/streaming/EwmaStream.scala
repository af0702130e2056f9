package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.{Ewma, SeriesFold}

/** Streaming shape of [[graft.operators.Ewma]]: the per-key integer
  * EWMA recurrence carried across micro-batches — the live smoothing
  * signal (rate baselines, engagement scores) updated as events arrive
  * instead of recomputed per batch.
  *
  * State per key is just (rn, s) — two longs, the minimum possible
  * carry for a first-order recurrence; O(keys) total, no caps needed
  * (contrast the [[NearDupStream]]/[[AsofStream]] rings). Rows apply
  * in (ts, eventId) order; the step is [[Ewma.step]], so parity with
  * [[Ewma.ewma]] is the [[graft.operators.SeriesFold]] contract.
  */
object EwmaStream {

  final case class EwmaIn(userId: Long, eventId: Long, ts: Long, xq: Long)

  final case class EwmaOut(userId: Long, rn: Long, eventId: Long, xq: Long, ewma: Long)

  type UserState = Ewma.UserState
  val UserState = Ewma.UserState

  def smoothed(in: Dataset[EwmaIn]): Dataset[EwmaOut] = {
    val spark = in.sparkSession
    import spark.implicits._
    SeriesFold.stream(in)(_.userId, r => (r.ts, r.eventId), Ewma.Start) { (u, st, r) =>
      val s = Ewma.step(st, r.xq)
      (s, EwmaOut(u, s.rn, r.eventId, r.xq, s.s))
    }
  }
}
