package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.Dataset

/** Stateful streaming CONNECTED COMPONENTS — the incremental
  * counterpart of `Dedup.connectedComponents` (q51's batch label
  * propagation), completing the streaming dedup story: the near-dup
  * streams ([[NearDupStream]], [[SemDeDupStream]], [[SpanDedupStream]])
  * emit PAIRS incrementally; this stream folds those pairs into
  * component ASSIGNMENTS (id → component-min rep) as they arrive, so
  * a downstream upsert sink (the [[IncrementalIndex]] convention,
  * keyed by id) always holds the current clustering.
  *
  * Shape honesty, and why a single registry is the right call HERE:
  * union-find is inherently global — one arriving pair can merge
  * components whose members arrived hours apart on different
  * executors, so there is no component-stable shard key (that is the
  * whole problem). The registry therefore lives under ONE group key
  * and processes unions sequentially. That is not the corpus path:
  * the input is the FILTERED pair stream (true near-dups — orders of
  * magnitude sparser than the document stream), and an array-backed
  * union-find does millions of unions/sec on one core. At a pair
  * rate where one core saturates, incremental clustering is the
  * wrong tool — run the batch large-star rounds
  * (`Dedup.connectedComponentsStar`) on a schedule instead; this
  * stream serves the low-latency regime, exactly like the reference's
  * incremental index sync serves queries between batch rebuilds.
  *
  * Emission contract (upsert-convergent): every batch emits the
  * current (id, rep) for each node TOUCHED this batch, PLUS every
  * member of a component whose rep changed by a merge (when {3,4}
  * with rep 3 merges under rep 1, node 4 is re-emitted as (4, 1) even
  * if 4 didn't arrive this batch). An id-keyed upsert of the
  * emissions therefore converges to EXACTLY the batch labeling after
  * any in-order replay — pinned bit-for-bit in ComponentStreamSpec
  * against `Dedup.connectedComponents` AND the star variant.
  *
  * State discipline (the family's capped-FIFO rule, by COMPONENT):
  * parent pointers + member lists, ≤ `maxNodes` entries total; past
  * the cap, whole least-recently-touched components are evicted
  * (never split — a component either tracks fully or not at all, so
  * retained answers stay exact). An evicted component's labels are
  * final in the upsert sink; a pair later re-touching its ids starts
  * a fresh component among the still-live ids, the same recall trade
  * every capped stream in this family makes and documents.
  */
object ComponentStream {

  final case class Pair(id_a: Long, id_b: Long)
  final case class Assign(id: Long, rep: Long)

  /** parent: node → parent (roots map to themselves; the ROOT IS the
    * component min — unions attach the larger root under the smaller,
    * so find() yields the rep directly). members: root → component
    * members. touch: root → last batch tick (eviction order). tick:
    * monotone batch counter.
    */
  final case class Registry(
      parent: Map[Long, Long],
      members: Map[Long, Seq[Long]],
      touch: Map[Long, Long],
      tick: Long)

  def assignments(
      pairs: Dataset[Pair],
      maxNodes: Int = 1 << 20): Dataset[Assign] = {
    val spark = pairs.sparkSession
    import spark.implicits._

    GraphRegistry.single(pairs, Registry(Map.empty, Map.empty, Map.empty, 0L)) { (st, it) =>
      val parent = mutable.HashMap.from(st.parent)
      val members = mutable.HashMap.from(st.members.view.mapValues(mutable.ArrayBuffer.from(_)))
      val touch = mutable.HashMap.from(st.touch)
      val tick = st.tick + 1

      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x                      // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def ensure(x: Long): Long =
        if (parent.contains(x)) find(x)
        else {
          parent(x) = x
          members(x) = mutable.ArrayBuffer(x)
          x
        }

      // changed(id) = rep after this batch, for exactly the ids the
      // emission contract owes: batch-touched nodes + re-rooted members
      val changed = mutable.HashMap.empty[Long, Long]
      it.foreach { p =>
        val ra = ensure(p.id_a); val rb = ensure(p.id_b)
        val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
        if (lo != hi) {
          parent(hi) = lo
          val moved = members.remove(hi).get
          members(lo) ++= moved
          moved.foreach(m => changed(m) = lo)
          touch.remove(hi)
        }
        touch(lo) = tick
        changed(p.id_a) = lo; changed(p.id_b) = lo
      }

      // cap, AFTER the emissions are fixed: evict whole
      // least-recently-touched components (a root is its component's
      // min id and carries its recency) — never split a live one
      if (parent.size > maxNodes)
        GraphRegistry.dropOldest(
          touch.map { case (root, t) => (t, root, members.getOrElse(root, Nil)) },
          maxNodes)(parent.size) { v => parent.remove(v); members.remove(v); touch.remove(v) }

      (Registry(parent.toMap, members.view.mapValues(_.toSeq).toMap, touch.toMap, tick),
        changed.toSeq.sortBy(_._1).iterator.map { case (id, rep) => Assign(id, rep) })
    }
  }
}
