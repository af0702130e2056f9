package graft.streaming

import org.apache.spark.sql.Dataset

/** Stateful streaming LABEL-PROPAGATION COMMUNITIES — the incremental
  * counterpart of `GraphOps.labelPropagation` (q198's batch
  * synchronous LPA), completing the graph-maintenance family's
  * batch/stream pairing: [[ComponentStream]] maintains components,
  * [[KCoreStream]] cores, [[PageRankStream]]/[[CentralityStream]]
  * ranks — communities were the one member without a stream twin.
  *
  * Parity discipline (the family's rule): each batch folds the new
  * edges into the tracked undirected adjacency, then re-runs the
  * batch recurrence VERBATIM over the tracked graph — every node
  * starts labeled with its own id; each of the fixed `iterations`
  * synchronous rounds relabels every node with the most frequent
  * label among its neighbors, ties broken by MIN label. The
  * recurrence is pure integer argmax over exact neighbor counts (no
  * floating point anywhere), so the last batch's assignment equals
  * `labelPropagation` over the same edges bit-for-bit — pinned in
  * LpaStreamSpec at every growth stage.
  *
  * Emission contract (upsert-convergent): every batch emits (id,
  * Some(community)) for each id whose converged label CHANGED vs the
  * last emission, plus type-visible `None` TOMBSTONES (NULL in the
  * sink schema — the family's retraction marker, never an in-band
  * sentinel) for evicted previously-emitted ids. An id-keyed upsert
  * sink therefore always holds exactly the tracked graph's current
  * communities.
  *
  * Registry, shape and state cap: the [[GraphRegistry]] frame, evicting
  * BEFORE the recurrence runs (a community is a subset of a component,
  * so evicting whole components never splits one).
  */
object LpaStream {

  final case class Edge(u: Long, v: Long)

  /** One emission: `community = Some(label)` upserts, `community =
    * None` RETRACTS a previously-emitted id (eviction tombstone). */
  final case class LabelRow(id: Long, community: Option[Long])

  /** adj: undirected deduped adjacency. labels: last emitted
    * community per id. touch: node → last batch tick. tick: monotone
    * counter. */
  final case class Registry(
      adj: Map[Long, Seq[Long]],
      labels: Map[Long, Long],
      touch: Map[Long, Long],
      tick: Long)

  def communityAssignments(
      edges: Dataset[Edge],
      iterations: Int = 3,
      maxNodes: Int = 1 << 20): Dataset[LabelRow] = {
    require(iterations >= 1, "iterations >= 1")
    val spark = edges.sparkSession
    import spark.implicits._

    GraphRegistry.single(edges, Registry(Map.empty, Map.empty, Map.empty, 0L)) { (st, it) =>
      val g = new GraphRegistry.Tracked(st.adj, st.touch, st.tick).fold(it.map(e => (e.u, e.v)))
      val evicted = GraphRegistry.evict(g.adj, g.touch, maxNodes)
      val now = labels(g.adj, iterations)
      (Registry(g.sortedAdj, now, g.recency, g.tick),
        GraphRegistry.emissions(evicted, st.labels, now)(LabelRow).iterator)
    }
  }

  /** The batch recurrence, verbatim: labels = own id; per round,
    * relabel every node with the most frequent neighbor label, argmax
    * by (count, then MIN label) — pure integer arithmetic, so stream ≡
    * batch needs no quantization argument at all. */
  private def labels(adj: collection.Map[Long, collection.Set[Long]],
      iterations: Int): Map[Long, Long] = {
    var lbl = scala.collection.mutable.HashMap.from(adj.keysIterator.map(v => v -> v))
    for (_ <- 1 to iterations) {
      val next = scala.collection.mutable.HashMap.empty[Long, Long]
      adj.foreach { case (v, nbrs) =>
        val counts = scala.collection.mutable.HashMap.empty[Long, Long]
        nbrs.foreach { w =>
          val l = lbl(w)
          counts(l) = counts.getOrElse(l, 0L) + 1L
        }
        // max count, ties to MIN label (deterministic, the batch
        // operator's lexicographic (c, −label) argmax)
        var bestL = Long.MaxValue; var bestC = 0L
        counts.foreach { case (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
        }
        next(v) = bestL
      }
      lbl = next
    }
    lbl.toMap
  }
}
