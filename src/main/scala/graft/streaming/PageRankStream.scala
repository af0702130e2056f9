package graft.streaming

import org.apache.spark.sql.Dataset

/** Stateful streaming PAGERANK maintenance — the incremental
  * counterpart of `GraphOps.pageRank` (q99's batch power iteration),
  * completing the graph family's batch/stream pairing next to
  * [[KCoreStream]]: edges arrive incrementally and a downstream
  * id-keyed upsert sink always holds the current ranks of the tracked
  * graph.
  *
  * Parity discipline: each batch folds the new edges into the tracked
  * undirected adjacency (dedup + self-loop drop — exactly
  * `GraphOps.orient`), then re-runs the SAME fixed-iteration damped
  * recurrence with the SAME arithmetic as the batch operator — per
  * node cv = p/deg, per in-neighbor contribution floor(cv·2⁴⁰) summed
  * as exact integers (order-free, so in-memory accumulation ≡ the
  * batch reduceByKey bit-for-bit), rank = (1−d)/n + d·(sum/2⁴⁰).
  * After any split/order of an edge stream the upsert therefore holds
  * EXACTLY the batch `pageRank` output over the same edges — pinned
  * bit-for-bit in PageRankStreamSpec.
  *
  * Unlike k-core, PageRank is NOT monotone — one edge shifts every
  * rank in its component (and, through the 1/n base term, slightly
  * everywhere) — so emissions are value-changed upserts, not
  * grow-only ones; the changed set is usually component-local because
  * unaffected doubles reproduce identically.
  *
  * Registry, shape and state cap: the [[GraphRegistry]] frame. Past
  * `maxNodes`, whole least-recently-touched components are evicted
  * BEFORE the recurrence runs, so every emitted rank is computed over
  * exactly the surviving tracked graph. Evicted ids whose ranks were
  * previously emitted get a TOMBSTONE row — TYPE-VISIBLE as `pr = None`
  * (NULL in the sink schema), so a retraction can never be mistaken for
  * a value and an id-keyed upsert sink drops NULL-rank rows; the
  * registry family (CentralityStream's three operators) shares this
  * emission shape.
  */
object PageRankStream {

  final case class Edge(u: Long, v: Long)
  /** One emission: `pr = Some(rank)` upserts, `pr = None` RETRACTS a
    * previously-emitted id (eviction tombstone — NULL in the sink
    * schema, never an in-band sentinel). */
  final case class RankRow(id: Long, pr: Option[Double])

  /** adj: undirected deduped adjacency. ranks: last emitted rank per
    * id. touch: node → last batch tick. tick: monotone counter. */
  final case class Registry(
      adj: Map[Long, Seq[Long]],
      ranks: Map[Long, Double],
      touch: Map[Long, Long],
      tick: Long)

  private val Q = 1099511627776L    // 2^40, the batch operator's quantum

  def rankAssignments(
      edges: Dataset[Edge],
      iterations: Int = 5,
      damping: Double = 0.85,
      maxNodes: Int = 1 << 20): Dataset[RankRow] = {
    require(iterations >= 1, "iterations >= 1")
    val spark = edges.sparkSession
    import spark.implicits._

    GraphRegistry.single(edges, Registry(Map.empty, Map.empty, Map.empty, 0L)) { (st, it) =>
      val g = new GraphRegistry.Tracked(st.adj, st.touch, st.tick).fold(it.map(e => (e.u, e.v)))
      val evicted = GraphRegistry.evict(g.adj, g.touch, maxNodes)
      val now = ranks(g.adj, iterations, damping)
      (Registry(g.sortedAdj, now, g.recency, g.tick),
        GraphRegistry.emissions(evicted, st.ranks, now)(RankRow).iterator)
    }
  }

  /** The batch recurrence, verbatim arithmetic. */
  private def ranks(adj: collection.Map[Long, collection.Set[Long]],
      iterations: Int, damping: Double): Map[Long, Double] = {
    val n = adj.size.toLong
    if (n == 0L) Map.empty
    else {
      val base = (1.0 - damping) / n
      var pr = scala.collection.mutable.HashMap.from(adj.view.mapValues(_ => 1.0 / n))
      for (_ <- 1 to iterations) {
        // cv = p / deg per node (deg ≥ 1: every tracked node has an
        // edge), then exact integer contribution sums
        val contrib = scala.collection.mutable.HashMap.empty[Long, Long]
        adj.foreach { case (u, nbrs) =>
          val qc = math.floor(pr(u) / nbrs.size * Q).toLong
          nbrs.foreach { w => contrib(w) = contrib.getOrElse(w, 0L) + qc }
        }
        val next = scala.collection.mutable.HashMap.empty[Long, Double]
        adj.keys.foreach { v =>
          next(v) = base + damping * (contrib.getOrElse(v, 0L).toDouble / Q)
        }
        pr = next
      }
      pr.toMap
    }
  }
}
