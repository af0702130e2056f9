package graft.streaming

import org.apache.spark.sql.Dataset

/** Stateful streaming heavy hitters — the SpaceSaving summary
  * (Metwally, Agrawal & El Abbadi 2005) carried across micro-batches:
  * the streaming counterpart of the batch sketch-pruned
  * `operators.HeavyHitters` (q148) and the estimate-valued CMS
  * (q103), completing the frequency family's batch/stream pair the
  * way HllStream/QuantileStream complete distinct-count/quantiles.
  *
  * Algorithm (per element, classic): tracked → counter += 1; room
  * left → start (1, err 0); else evict THE minimum counter m and
  * adopt its count (est = m + 1, err = m). Guarantees, all spec-
  * pinned: est ≥ true ≥ est − err for every tracked item; the true
  * count of any UNtracked item is ≤ the minimum tracked counter; and
  * with capacity ≥ distinct items the summary IS the exact count map
  * (err = 0), where the stream hash-matches the batch groupBy-count
  * on any split of the stream.
  *
  * Emission contract (snapshot-per-batch): each batch emits the FULL
  * current summary stamped with the batch tick — a monitoring sink
  * keeps `tick = max(tick)` as the live top-k table (the summary is
  * capacity-bounded, ≤ ~hundreds of rows, so snapshot emission costs
  * nothing and avoids eviction tombstones). Unlike the merge-monoid
  * streams, SpaceSaving is arrival-order dependent once evicting —
  * the spec asserts its ERROR BOUNDS there, and bit-parity with
  * batch only in the exact (under-capacity) regime.
  *
  * Shape honesty (the [[ComponentStream]] argument): one group key,
  * state bounded by `capacity`, millions of updates/sec on one core;
  * at a rate where one core saturates, run the batch two-phase
  * HeavyHitters on a schedule and keep this for the low-latency
  * window.
  */
object HeavyHitterStream {

  final case class Hit(tick: Long, item: String, est: Long, err: Long)

  /** counts/errs: the tracked summary. tick: monotone batch counter. */
  final case class Summary(
      counts: Map[String, Long],
      errs: Map[String, Long],
      tick: Long)

  def summary(
      items: Dataset[String],
      capacity: Int): Dataset[Hit] = {
    require(capacity >= 1, "capacity >= 1")
    val spark = items.sparkSession
    import spark.implicits._

    GraphRegistry.single(items, Summary(Map.empty, Map.empty, 0L)) { (st, it) =>
      val counts = scala.collection.mutable.HashMap.from(st.counts)
      val errs = scala.collection.mutable.HashMap.from(st.errs)
      // (count, item) ordered mirror of `counts`: head is the eviction
      // victim (min count, ties by item — identical to the former
      // minBy scan), making steady-state eviction O(log capacity) per
      // untracked arrival instead of O(capacity)
      val order = scala.collection.mutable.TreeSet.empty[(Long, String)]
      counts.foreach { case (k, v) => order.add((v, k)) }
      val tick = st.tick + 1
      it.foreach { x =>
        counts.get(x) match {
          case Some(c) =>
            counts(x) = c + 1
            order.remove((c, x)); order.add((c + 1, x))
          case None if counts.size < capacity =>
            counts(x) = 1L; errs(x) = 0L; order.add((1L, x))
          case None =>
            val (mCount, mItem) = order.head
            order.remove((mCount, mItem))
            counts.remove(mItem); errs.remove(mItem)
            counts(x) = mCount + 1; errs(x) = mCount
            order.add((mCount + 1, x))
        }
      }
      (Summary(counts.toMap, errs.toMap, tick),
        counts.toSeq.sortBy { case (k, v) => (-v, k) }
          .map { case (k, v) => Hit(tick, k, v, errs(k)) }.iterator)
    }
  }
}
