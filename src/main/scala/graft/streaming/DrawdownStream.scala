package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.{Risk, SeriesFold}

/** Streaming shape of [[graft.operators.Risk.drawdown]]: the per-key
  * cumulative-sum / running-peak / drawdown recurrence carried across
  * micro-batches — the live "how far below high-water is this
  * account/region right now" signal, extending the risk family to the
  * streaming side (the [[EwmaStream]] ordered-recurrence class).
  *
  * State per key is (rn, cum, peak) — three longs, O(keys) total.
  * Rows apply in (day, eventId) order; the step is
  * [[Risk.drawdownStep]], so parity with the batch fold is the
  * [[graft.operators.SeriesFold]] contract.
  */
object DrawdownStream {

  final case class DdIn(key: String, eventId: Long, day: Long, xq: Long)

  final case class DdOut(
      key: String, rn: Long, day: Long, xq: Long, cum: Long, peak: Long,
      dd: Long)

  type DdState = Risk.DdState
  val DdState = Risk.DdState

  def drawdowns(in: Dataset[DdIn]): Dataset[DdOut] = {
    val spark = in.sparkSession
    import spark.implicits._
    SeriesFold.stream(in)(_.key, r => (r.day, r.eventId), Risk.DdStart) { (k, st, r) =>
      val s = Risk.drawdownStep(st, r.xq)
      (s, DdOut(k, s.rn, r.day, r.xq, s.cum, s.peak, s.peak - s.cum))
    }
  }
}
