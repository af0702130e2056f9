package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.Dataset

/** Stateful streaming WEIGHTED-SSSP maintenance — the incremental
  * counterpart of `GraphOps.bellmanFord` (q292's round-bounded
  * multi-seed Bellman–Ford), extending the centrality family's
  * batch/stream pairing ([[PageRankStream]], [[CentralityStream]])
  * to shortest paths.
  *
  * Parity discipline: each batch folds new weighted arcs into the
  * tracked digraph (per-(src,dst) MIN cost — re-delivery is
  * idempotent, a cheaper arc re-relaxes), then re-runs the SAME
  * `rounds`-bounded relaxation with the SAME arithmetic: pure Long
  * sums and mins, so the k-round invariant — dist(v) = min cost over
  * paths of ≤ k arcs from any seed — is reproduced EXACTLY (no
  * floating point anywhere). Seeds are derived from the tracked
  * graph by the same rule as the batch caller (out-degree > 0 and
  * id % seedMod == 0), so after any split/order of the arc stream an
  * id-keyed upsert holds exactly the batch `bellmanFord` output over
  * the same arcs — pinned in SsspStreamSpec.
  *
  * Emissions are value-changed upserts. Distances are Longs; the
  * tombstone is the named [[Tombstone]] constant (−1 — out of band,
  * costs are non-negative by construction), predating the double
  * family's move to type-visible `Option`/NULL retractions — evicted ids
  * whose distances were previously emitted get one, so an id-keyed
  * upsert sink never holds stale distances for untracked nodes. A
  * node that LOSES reachability without being evicted (possible only
  * through eviction of its component's seeds — arcs are insert-only)
  * is handled by the same component-wise eviction, which removes the
  * whole component.
  *
  * Registry, shape and state cap: the [[GraphRegistry]] frame; whole
  * weakly-connected components are evicted BEFORE the relaxation runs,
  * so every emitted distance is computed over exactly the surviving
  * tracked graph.
  */
object SsspStream extends Serializable {

  final case class WArc(src: Long, dst: Long, cost: Long)
  final case class DistRow(id: Long, distQ: Long)

  /** adj: src → packed [dst0, cost0, dst1, cost1, …] (min cost per
    * arc). dists: last emitted distance per id. */
  final case class Registry(
      adj: Map[Long, Seq[Long]],
      dists: Map[Long, Long],
      touch: Map[Long, Long],
      tick: Long)

  /** Out-of-band retraction sentinel (distances are ≥ 0). */
  val Tombstone: Long = -1L

  final case class Arc(src: Long, dst: Long)

  /** BFS layers maintained incrementally — q238's unweighted shape:
    * first-reach layer ≡ shortest unit-cost distance, so this is
    * [[distanceAssignments]] at cost 1 (rounds bounds the horizon
    * exactly like the batch loop). */
  def bfsLayerAssignments(
      arcs: Dataset[Arc],
      seedMod: Long = 97L,
      rounds: Int = 4,
      maxNodes: Int = 1 << 20): Dataset[DistRow] = {
    val spark = arcs.sparkSession
    import spark.implicits._
    distanceAssignments(arcs.map(a => WArc(a.src, a.dst, 1L)),
      seedMod, rounds, maxNodes)
  }

  def distanceAssignments(
      arcs: Dataset[WArc],
      seedMod: Long = 97L,
      rounds: Int = 6,
      maxNodes: Int = 1 << 20): Dataset[DistRow] = {
    require(rounds >= 1, "rounds >= 1")
    require(seedMod >= 1, "seedMod >= 1")
    val spark = arcs.sparkSession
    import spark.implicits._

    GraphRegistry.single(arcs, Registry(Map.empty, Map.empty, Map.empty, 0L)) { (st, it) =>
      // unpack: src -> (dst -> min cost)
      val adj = mutable.HashMap.from(st.adj.view.mapValues(packed =>
        mutable.HashMap.from(packed.grouped(2).collect { case Seq(d, c) => d -> c })))
      val touch = mutable.HashMap.from(st.touch)
      val tick = st.tick + 1
      it.foreach { a =>
        if (a.cost >= 0L) {          // negative arcs are out of contract
          val m = adj.getOrElseUpdate(a.src, mutable.HashMap.empty[Long, Long])
          m(a.dst) = math.min(m.getOrElse(a.dst, Long.MaxValue), a.cost)
          touch(a.src) = tick; touch(a.dst) = tick
        }
      }
      val evicted = GraphRegistry.evict(
        GraphRegistry.undirected(adj.view.mapValues(_.keys)), touch, maxNodes)
      evicted.foreach(adj.remove)
      val now = distances(adj, seedMod, rounds)
      (Registry(
        adj.view.mapValues(_.toSeq.sortBy(_._1).flatMap { case (d, c) => Seq(d, c) }).toMap,
        now, touch.toMap, tick),
        GraphRegistry.emissions(evicted, st.dists, now)(
          (id, d) => DistRow(id, d.getOrElse(Tombstone))).iterator)
    }
  }

  /** The batch recurrence, verbatim: seeds = out-degree>0 nodes with
    * id % seedMod == 0 at dist 0; `rounds` relaxations, each extending
    * the min-cost-over-≤r-arc-paths invariant by one arc (pure Long
    * arithmetic — order-free, bit-exact). */
  private def distances(adj: collection.Map[Long, collection.Map[Long, Long]],
      seedMod: Long, rounds: Int): Map[Long, Long] = {
    val dist = mutable.HashMap.empty[Long, Long]
    adj.keysIterator.filter(v => math.floorMod(v, seedMod) == 0L).foreach(dist(_) = 0L)
    for (_ <- 1 to rounds) {
      val cand = mutable.HashMap.empty[Long, Long]
      dist.foreach { case (u, du) =>
        adj.get(u).foreach(_.foreach { case (w, c) =>
          val nd = du + c
          if (nd < cand.getOrElse(w, Long.MaxValue)) cand(w) = nd
        })
      }
      cand.foreach { case (v, d) =>
        if (d < dist.getOrElse(v, Long.MaxValue)) dist(v) = d
      }
    }
    dist.toMap
  }
}
