package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.{Kalman, SeriesFold}

/** Streaming shape of [[graft.operators.Kalman.localLevel]]: the
  * per-key local-level filter recurrence carried across micro-batches
  * — the live "denoised level right now" companion to
  * [[DrawdownStream]] (high-water) and [[EwmaStream]] (fixed-gain
  * smoothing): the Kalman gain ANNEALS per key as its variance
  * recursion converges, so a fresh key tracks fast and a seasoned key
  * smooths hard — with zero per-key tuning, which is what makes it
  * the right tool for MILLIONS of keys.
  *
  * State per key is (level, p, seen) — integer fixed point, O(keys)
  * total, exactly the batch operator's state. Rows apply in
  * (day, eventId) order; the step is [[Kalman.step]], so parity with
  * [[Kalman.localLevel]] is the [[graft.operators.SeriesFold]]
  * contract.
  */
object KalmanStream {

  final case class KIn(key: String, eventId: Long, day: Long, xq: Long)

  final case class KOut(
      key: String, day: Long, xq: Long, level: Long, resid: Long,
      k_micro: Long)

  type KState = Kalman.KState
  val KState = Kalman.KState

  def levels(in: Dataset[KIn]): Dataset[KOut] = {
    val spark = in.sparkSession
    import spark.implicits._
    SeriesFold.stream(in)(_.key, r => (r.day, r.eventId), Kalman.Start) { (k, st, r) =>
      val (s, gain) = Kalman.step(st, r.xq)
      (s, KOut(k, r.day, r.xq, s.l, r.xq - s.l, gain))
    }
  }
}
