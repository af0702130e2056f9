package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.SeriesFold

/** Streaming shape of [[graft.operators.Sprt]]: the sequential
  * probability ratio walk carried across micro-batches — the live
  * "stop this experiment" monitor. Each arriving trial advances the
  * arm's integer LLR walk; once a boundary is crossed the decision
  * FREEZES (the sequential-test contract: you stop at first crossing
  * — later trials must not un-decide), and subsequent rows re-emit
  * the frozen decision state.
  *
  * Same integer micro-nat literals as the batch operator; with the
  * same trial order the emitted first-crossing state is bit-equal to
  * `Sprt.decide`'s (spec-pinned, including crossings that happen
  * mid-batch and decisions frozen across batch boundaries). The batch
  * side is a distributed prefix-sum scan, not this step; the carry is
  * the [[graft.operators.SeriesFold]] streaming driver.
  *
  * State per arm is three longs + a flag — O(arms) total, the
  * [[EwmaStream]] minimal-carry class; rows apply in `rn` order.
  */
object SprtStream {

  final case class SprtIn(arm: String, rn: Long, succ: Boolean)

  final case class SprtOut(
      arm: String, rn: Long, n: Long, llrMicro: Long, decision: String)

  final case class SprtState(n: Long, llr: Long, decided: String)

  def decisions(
      in: Dataset[SprtIn],
      stepMicro: Long = graft.operators.Sprt.LlrStepMicro,
      thresholdMicro: Long = graft.operators.Sprt.ThresholdMicro)
      : Dataset[SprtOut] = {
    val spark = in.sparkSession
    import spark.implicits._
    SeriesFold.stream(in)(_.arm, _.rn, SprtState(0L, 0L, "continue")) { (arm, st, r) =>
      val s =
        if (st.decided != "continue") st
        else {
          val llr = st.llr + (if (r.succ) stepMicro else -stepMicro)
          SprtState(st.n + 1, llr,
            if (llr >= thresholdMicro) "accept_h1"
            else if (llr <= -thresholdMicro) "accept_h0"
            else "continue")
        }
      (s, SprtOut(arm, r.rn, s.n, s.llr, s.decided))
    }
  }
}
