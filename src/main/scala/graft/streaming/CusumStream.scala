package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.{Cusum, SeriesFold}

/** Streaming shape of [[graft.operators.Cusum]]: the two-sided drift
  * alarm carried across micro-batches — the live "ingest volume
  * shifted" monitor, emitting per-observation cumulative sums and
  * alarm flags as points arrive.
  *
  * Unlike the batch operator (which derives μ from the in-sample
  * mean), the stream takes the reference level and the derived
  * slack/threshold as PARAMETERS — the SPC convention: a control
  * chart monitors against a target fixed ahead of time (here,
  * typically last period's batch μ). With identical parameters the
  * step is [[Cusum.step]], so parity with the batch detector is the
  * [[graft.operators.SeriesFold]] contract.
  *
  * State per series is (su, sl) — two longs, the [[EwmaStream]]
  * minimal-carry class; rows apply in `rn` order.
  */
object CusumStream {

  final case class CusumIn(seriesId: Long, rn: Long, xq: Long)

  final case class CusumOut(
      seriesId: Long, rn: Long, xq: Long, su: Long, sl: Long, alarm: Boolean)

  type SideState = Cusum.SideState
  val SideState = Cusum.SideState

  def alarms(
      in: Dataset[CusumIn],
      mu: Long,
      slack: Long,
      thresh: Long): Dataset[CusumOut] = {
    val spark = in.sparkSession
    import spark.implicits._
    SeriesFold.stream(in)(_.seriesId, _.rn, Cusum.Start) { (sid, st, r) =>
      val (s, alarm) = Cusum.step(mu, slack, thresh)(st, r.xq)
      (s, CusumOut(sid, r.rn, r.xq, s.su, s.sl, alarm))
    }
  }
}
