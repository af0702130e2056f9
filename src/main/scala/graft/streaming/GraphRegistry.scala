package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The frame the streaming graph operators run in, written once: one
  * registry under a single group key, in which each micro-batch folds
  * its edges into the tracked graph and re-runs the operator's batch
  * recurrence over all of it. The operators ([[ComponentStream]],
  * [[KCoreStream]], [[LpaStream]], [[PageRankStream]], [[SsspStream]],
  * [[CentralityStream]]) keep only that recurrence, as a pure function
  * of the tracked graph, and the order in which they call the pieces.
  *
  * Shape honesty: every recurrence here is global — one arriving edge
  * can merge components, tip a pendant chain into a core, or shift
  * every rank through a normalizer — so there is no component-stable
  * shard key, and the registry lives under ONE key on one task. That
  * is the low-latency regime's tool over an already pair-reduced edge
  * stream (millions of edges/sec per core for the in-memory
  * recurrences); at a rate where one core saturates, run the
  * distributed batch operator on a schedule instead — the reference's
  * incremental-index-between-batch-rebuilds convention.
  *
  * State cap: past `maxNodes`, whole least-recently-touched connected
  * components are evicted ([[evict]]). Operators that retract evict
  * BEFORE their recurrence and emit tombstones ([[emissions]]), so
  * every emission is computed over exactly the surviving graph;
  * insert-only operators (k-core, components) emit first and evict
  * after, so an evicted component's rows stay final in the sink. Either
  * way an id re-touched after eviction starts fresh — the recall trade
  * every capped stream in this family documents.
  */
object GraphRegistry {

  type Nbrs = mutable.HashMap[Long, mutable.HashSet[Long]]

  /** Single-key driver: `batch` maps the carried state (`init` before
    * the first batch) and one micro-batch's rows to the next state and
    * the batch's emissions. */
  def single[I, S: Encoder, O: Encoder](in: Dataset[I], init: S)(
      batch: (S, Iterator[I]) => (S, Iterator[O])): Dataset[O] =
    in.groupByKey(_ => 0)(Encoders.scalaInt).flatMapGroupsWithState[S, O](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (_: Int, rows: Iterator[I], state: GroupState[S]) =>
        val (s, out) = batch(state.getOption.getOrElse(init), rows)
        state.update(s)
        out
    }

  /** One batch's mutable copy of a registry's adjacency (neighbor sets
    * thawed from the state's sorted seqs), each node's last batch tick,
    * and this batch's tick. */
  final class Tracked(adj0: Map[Long, Seq[Long]], touch0: Map[Long, Long], lastTick: Long) {
    val adj: Nbrs = mutable.HashMap.from(adj0.view.mapValues(mutable.HashSet.from(_)))
    val touch: mutable.HashMap[Long, Long] = mutable.HashMap.from(touch0)
    val tick: Long = lastTick + 1

    /** Fold undirected edges (exactly `GraphOps.orient`): self-loops
      * dropped, both directions stored, a re-delivered edge a no-op;
      * both endpoints touched. */
    def fold(edges: Iterator[(Long, Long)]): this.type = {
      edges.foreach { case (u, v) =>
        if (u != v) {
          adj.getOrElseUpdate(u, mutable.HashSet.empty) += v
          adj.getOrElseUpdate(v, mutable.HashSet.empty) += u
          touch(u) = tick; touch(v) = tick
        }
      }
      this
    }

    def sortedAdj: Map[Long, Seq[Long]] = adj.view.mapValues(_.toSeq.sorted).toMap
    def recency: Map[Long, Long] = touch.toMap
  }

  /** The undirected view of a directed arc map, self-loops dropped:
    * every endpoint is a key, a dst-only node included. */
  def undirected(arcs: Iterable[(Long, Iterable[Long])]): Nbrs = {
    val und: Nbrs = mutable.HashMap.empty
    arcs.foreach { case (u, dsts) =>
      val uu = und.getOrElseUpdate(u, mutable.HashSet.empty)
      dsts.foreach { d =>
        val dd = und.getOrElseUpdate(d, mutable.HashSet.empty)
        if (d != u) { uu += d; dd += u }
      }
    }
    und
  }

  /** Evict whole connected components of `und` (which holds every
    * tracked node as a key), least recently touched first, until at
    * most `maxNodes` nodes remain. The evicted nodes leave `und` and
    * `touch` and are returned. Eviction is the rare path, so the BFS
    * over the whole graph is accepted.
    *
    * Why whole components keep every retained answer exact: each
    * recurrence decomposes over connected components — k-core(G) is
    * the union of its components' cores, a community, component or
    * shortest path never crosses one, and rank or centrality mass flows
    * only along edges — so dropping a component whole leaves the rest
    * exactly the batch operator's answer over the surviving graph (a
    * global normalizer such as PageRank's 1/n is recomputed over it).
    * Splitting a component would change its survivors' answers.
    */
  def evict(und: Nbrs, touch: mutable.HashMap[Long, Long], maxNodes: Int): collection.Set[Long] = {
    val evicted = mutable.HashSet.empty[Long]
    if (und.size > maxNodes) {
      val seen = mutable.HashSet.empty[Long]
      val comps = mutable.ArrayBuffer.empty[(Long, Long, Seq[Long])]
      und.keys.foreach { s =>
        if (!seen.contains(s)) {
          val comp = mutable.ArrayBuffer(s)
          seen += s
          var i = 0
          while (i < comp.length) {
            und(comp(i)).foreach { w =>
              if (!seen.contains(w)) { seen += w; comp += w }
            }
            i += 1
          }
          comps += ((comp.iterator.map(touch.getOrElse(_, 0L)).max, comp.min, comp.toSeq))
        }
      }
      dropOldest(comps, maxNodes)(und.size) { v =>
        und.remove(v); touch.remove(v); evicted += v
      }
    }
    evicted
  }

  /** The eviction order and cap loop: `comps` are (recency, min id,
    * members); `drop` each member of whole components, least recent
    * first and ties to the smaller min id, while `size` exceeds
    * `maxNodes`. */
  def dropOldest(comps: Iterable[(Long, Long, Iterable[Long])], maxNodes: Int)(
      size: => Int)(drop: Long => Unit): Unit = {
    val oldest = comps.toSeq.sortBy(c => (c._1, c._2)).iterator
    while (size > maxNodes && oldest.hasNext) oldest.next()._3.foreach(drop)
  }

  /** Values in `now` that differ from (or are missing in) `before`,
    * sorted by id. */
  def changed[V](before: Map[Long, V], now: Map[Long, V]): Seq[(Long, V)] =
    now.iterator.filter { case (id, v) => !before.get(id).contains(v) }.toSeq.sortBy(_._1)

  /** The emission diff: a tombstone `row(id, None)` for each evicted id
    * emitted before, then an upsert `row(id, Some(v))` for each
    * [[changed]] value, each part sorted by id. An id-keyed upsert
    * sink therefore holds exactly the tracked graph's current values. */
  def emissions[V, O](evicted: collection.Set[Long], before: Map[Long, V], now: Map[Long, V])(
      row: (Long, Option[V]) => O): Seq[O] =
    evicted.iterator.filter(before.contains).toSeq.sorted.map(row(_, None)) ++
      changed(before, now).map { case (id, v) => row(id, Some(v)) }
}
