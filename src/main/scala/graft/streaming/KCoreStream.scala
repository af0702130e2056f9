package graft.streaming

import org.apache.spark.sql.Dataset

/** Stateful streaming K-CORE maintenance — the incremental counterpart
  * of `GraphOps.kCore` (q209's batch peel), extending the batch≡stream
  * parity discipline ([[ComponentStream]], [[NearDupStream]],
  * [[HllStream]]) to the graph family: edges arrive incrementally and
  * a downstream id-keyed upsert sink (the [[IncrementalIndex]]
  * convention) always holds the current k-core membership with in-core
  * degrees.
  *
  * Why incremental k-core is tractable here: under INSERT-only edge
  * arrival the k-core is MONOTONE — the k-core of a supergraph
  * contains the k-core of every subgraph, and a member's in-core
  * degree never shrinks — so emissions are pure upserts; no
  * tombstones, no retraction channel. Each batch folds the new edges
  * into the tracked adjacency and re-peels to FIXPOINT in memory
  * (queue-based O(V+E) on the tracked subgraph — millions of edges/sec
  * on one core), then emits exactly the (id, core_deg) rows that
  * changed. An id-keyed upsert of the emissions therefore converges to
  * EXACTLY the batch `GraphOps.kCore` labeling after any split/order
  * of the edge stream — pinned bit-for-bit in KCoreStreamSpec.
  *
  * Registry, shape and state cap: the [[GraphRegistry]] frame. K-core
  * is insert-only, so the batch's rows are computed and emitted FIRST
  * and whole least-recently-touched components evicted after (never
  * split — k-core(G) = ∪ k-core(component), so every retained answer
  * stays exact). An evicted component's rows are final in the upsert
  * sink; its ids start fresh if edges re-touch them.
  */
object KCoreStream {

  final case class Edge(u: Long, v: Long)
  final case class CoreRow(id: Long, core_deg: Long)

  /** adj: undirected deduped adjacency (both directions stored).
    * core: last emitted in-core degree per member id (the upsert
    * sink's mirror, so each batch emits only deltas). touch: node →
    * last batch tick (eviction recency). tick: monotone batch counter.
    */
  final case class Registry(
      adj: Map[Long, Seq[Long]],
      core: Map[Long, Long],
      touch: Map[Long, Long],
      tick: Long)

  def coreAssignments(
      edges: Dataset[Edge],
      k: Int,
      maxNodes: Int = 1 << 20): Dataset[CoreRow] = {
    require(k >= 1, "k >= 1")
    val spark = edges.sparkSession
    import spark.implicits._

    GraphRegistry.single(edges, Registry(Map.empty, Map.empty, Map.empty, 0L)) { (st, it) =>
      val g = new GraphRegistry.Tracked(st.adj, st.touch, st.tick).fold(it.map(e => (e.u, e.v)))
      val now = core(g.adj, k)
      // emissions: exactly the rows the upsert sink is owed — members
      // whose in-core degree changed (insert-only arrival makes these
      // monotone upserts; membership never retracts)
      val rows = GraphRegistry.changed(st.core, now).map { case (id, d) => CoreRow(id, d) }
      GraphRegistry.evict(g.adj, g.touch, maxNodes)
      (Registry(g.sortedAdj, now.view.filterKeys(g.adj.contains).toMap, g.recency, g.tick),
        rows.iterator)
    }
  }

  /** Peel to fixpoint: queue-based Matula–Beck style, O(V+E) on the
    * tracked subgraph; deterministic because the surviving SET (and
    * each survivor's in-core degree) is peel-order independent. */
  private def core(adj: collection.Map[Long, collection.Set[Long]], k: Int): Map[Long, Long] = {
    val deg = scala.collection.mutable.HashMap.from(adj.view.mapValues(_.size))
    val queue = scala.collection.mutable.ArrayDeque.from(
      deg.collect { case (v, d) if d < k => v })
    val dead = scala.collection.mutable.HashSet.empty[Long]
    while (queue.nonEmpty) {
      val v = queue.removeHead()
      if (!dead.contains(v) && deg(v) < k) {
        dead += v
        adj(v).foreach { w =>
          if (!dead.contains(w)) {
            val d = deg(w) - 1
            deg(w) = d
            if (d < k) queue += w
          }
        }
      }
    }
    deg.collect { case (v, d) if !dead.contains(v) && d >= k => (v, d.toLong) }.toMap
  }
}
