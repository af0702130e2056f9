package graft.streaming

import org.apache.spark.sql.Dataset

/** Stateful streaming EIGENVECTOR and HITS maintenance — the
  * incremental counterparts of `GraphOps.eigenvectorCentrality`
  * (q319's normalized power method) and `GraphOps.hits` (q210's
  * hub/authority half-steps), completing the centrality family's
  * batch/stream pairing next to [[PageRankStream]], in the same
  * [[GraphRegistry]] frame: evict before the recurrence, `None`
  * tombstones.
  *
  * Parity discipline: each batch folds new edges into the tracked
  * adjacency, then re-runs the SAME fixed-iteration recurrence with
  * the SAME arithmetic as the batch operator —
  *  - eigenvector: per in-neighbor contribution floor(x·2³⁰) summed
  *    as exact integers, renormalized x ← c/Σc·n (the batch
  *    decimal(38,0) global sum mirrored by a BigInt — both cast to
  *    double correctly rounded);
  *  - HITS: quantized half-steps — raw(dst) = Σ floor(hub·2⁴⁰)/2⁴⁰
  *    over in-edges, L1-renormalized by the identically-quantized
  *    global sum, then the mirror-image hub step.
  * The integer sums are order-free, so after any split/order of the
  * edge stream an id-keyed upsert holds EXACTLY the batch outputs
  * over the same edges — pinned bit-for-bit in CentralityStreamSpec.
  *
  * Like PageRank (and unlike k-core) both recurrences are global
  * (the normalizer touches every node), so emissions are
  * value-changed upserts; unchanged doubles reproduce identically,
  * keeping the delta set component-local. Evicted ids whose values
  * were previously emitted get type-visible `None` tombstone rows
  * (NULL in the sink schema), so an id-keyed
  * upsert sink never holds stale centralities for untracked nodes.
  */
object CentralityStream extends Serializable {

  /** Undirected edge (eigenvector input — self-loops dropped,
    * orientation-free dedup, exactly `GraphOps.orient`). */
  final case class Edge(u: Long, v: Long)
  /** `eig = Some(score)` upserts, `eig = None` RETRACTS (eviction
    * tombstone — NULL in the sink schema, the family convention). */
  final case class EigRow(id: Long, eig: Option[Double])

  /** Directed arc (HITS input — `distinct()` dedup only; HITS keeps
    * self-loops, matching the batch operator). */
  final case class Arc(src: Long, dst: Long)
  /** `v = Some(score)` upserts, `v = None` RETRACTS per (side, id). */
  final case class HitsRow(side: String, id: Long, v: Option[Double])

  final case class EigRegistry(
      adj: Map[Long, Seq[Long]],
      eigs: Map[Long, Double],
      touch: Map[Long, Long],
      tick: Long)

  final case class HitsRegistry(
      out: Map[Long, Seq[Long]],
      hubs: Map[Long, Double],
      auths: Map[Long, Double],
      touch: Map[Long, Long],
      tick: Long)

  private val QE = 1073741824L       // 2^30, the batch eigenvector quantum
  private val QH = 1099511627776L    // 2^40, the batch HITS quantum

  /** Streaming eigenvector centrality: upsert rows (id, eig) for every
    * value change; eig = None tombstones for evicted previously-emitted
    * ids. Arithmetic ≡ `GraphOps.eigenvectorCentrality(_, _, _,
    * iterations)` bit-for-bit over the tracked edges.
    */
  def eigenAssignments(
      edges: Dataset[Edge],
      iterations: Int = 4,
      maxNodes: Int = 1 << 20): Dataset[EigRow] = {
    require(iterations >= 1, "iterations >= 1")
    val spark = edges.sparkSession
    import spark.implicits._

    GraphRegistry.single(edges, EigRegistry(Map.empty, Map.empty, Map.empty, 0L)) { (st, it) =>
      val g = new GraphRegistry.Tracked(st.adj, st.touch, st.tick).fold(it.map(e => (e.u, e.v)))
      val evicted = GraphRegistry.evict(g.adj, g.touch, maxNodes)
      val now = eigs(g.adj, iterations)
      (EigRegistry(g.sortedAdj, now, g.recency, g.tick),
        GraphRegistry.emissions(evicted, st.eigs, now)(EigRow).iterator)
    }
  }

  /** The batch recurrence, verbatim arithmetic: x init 1.0; per round
    * c(w) = Σ_{u~w} floor(x_u·2³⁰) exact longs, global sum as BigInt
    * (the decimal(38,0) mirror), x ← c/Σc·n. */
  private def eigs(adj: collection.Map[Long, collection.Set[Long]],
      iterations: Int): Map[Long, Double] = {
    val n = adj.size.toDouble
    var x = scala.collection.mutable.HashMap.from(adj.view.mapValues(_ => 1.0))
    for (_ <- 1 to iterations) {
      val c = scala.collection.mutable.HashMap.empty[Long, Long]
      adj.foreach { case (u, nbrs) =>
        val qc = math.floor(x(u) * QE).toLong
        nbrs.foreach { w => c(w) = c.getOrElse(w, 0L) + qc }
      }
      var sTot = BigInt(0)
      c.valuesIterator.foreach(sTot += _)
      val sD = sTot.toDouble
      val next = scala.collection.mutable.HashMap.empty[Long, Double]
      c.foreach { case (v, cv) => next(v) = cv.toDouble / sD * n }
      x = next
    }
    x.toMap
  }

  /** `katz = Some(score)` upserts, `katz = None` RETRACTS. */
  final case class KatzRow(id: Long, katz: Option[Double])

  /** Streaming Katz centrality: upsert rows (id, katz) for every
    * value change; katz = None tombstones for evicted
    * previously-emitted ids. Arithmetic ≡ `GraphOps.katz(_, _, _,
    * iterations, alpha)` bit-for-bit over the tracked edges
    * (x init 1.0; per round x ← 1 + α·(Σ floor(x·2⁴⁰))/2⁴⁰ — the +1
    * volume floor, never normalized, so unlike the eigenvector there
    * is no global normalizer state beyond the sums themselves).
    * Completes the centrality quartet's batch/stream pairing:
    * PageRank ([[PageRankStream]]), eigenvector, HITS, Katz.
    */
  def katzAssignments(
      edges: Dataset[Edge],
      iterations: Int = 4,
      alpha: Double = 0.01,
      maxNodes: Int = 1 << 20): Dataset[KatzRow] = {
    require(iterations >= 1, "iterations >= 1")
    val spark = edges.sparkSession
    import spark.implicits._

    GraphRegistry.single(edges, EigRegistry(Map.empty, Map.empty, Map.empty, 0L)) { (st, it) =>
      val g = new GraphRegistry.Tracked(st.adj, st.touch, st.tick).fold(it.map(e => (e.u, e.v)))
      val evicted = GraphRegistry.evict(g.adj, g.touch, maxNodes)
      val now = katz(g.adj, iterations, alpha)
      (EigRegistry(g.sortedAdj, now, g.recency, g.tick),
        GraphRegistry.emissions(evicted, st.eigs, now)(KatzRow).iterator)
    }
  }

  private def katz(adj: collection.Map[Long, collection.Set[Long]],
      iterations: Int, alpha: Double): Map[Long, Double] = {
    var x = scala.collection.mutable.HashMap.from(adj.view.mapValues(_ => 1.0))
    for (_ <- 1 to iterations) {
      val c = scala.collection.mutable.HashMap.empty[Long, Long]
      adj.foreach { case (u, nbrs) =>
        val qc = math.floor(x(u) * QH).toLong
        nbrs.foreach { w => c(w) = c.getOrElse(w, 0L) + qc }
      }
      val next = scala.collection.mutable.HashMap.empty[Long, Double]
      c.foreach { case (v, cv) => next(v) = 1.0 + alpha * (cv.toDouble / QH) }
      x = next
    }
    x.toMap
  }

  /** Streaming HITS: upsert rows (side, id, v) for every value change
    * on either side; v = None tombstones per previously-emitted
    * (side, id) of evicted nodes. Arithmetic ≡ `GraphOps.hits(_, _, _,
    * iterations)` bit-for-bit over the tracked arcs.
    */
  def hitsAssignments(
      arcs: Dataset[Arc],
      iterations: Int = 5,
      maxNodes: Int = 1 << 20): Dataset[HitsRow] = {
    require(iterations >= 1, "iterations >= 1")
    val spark = arcs.sparkSession
    import spark.implicits._

    GraphRegistry.single(arcs, HitsRegistry(Map.empty, Map.empty, Map.empty, Map.empty, 0L)) { (st, it) =>
      val g = new GraphRegistry.Tracked(st.out, st.touch, st.tick)
      it.foreach { a =>                // distinct() only: self-loops kept
        g.adj.getOrElseUpdate(a.src, scala.collection.mutable.HashSet.empty) += a.dst
        g.touch(a.src) = g.tick; g.touch(a.dst) = g.tick
      }
      // eviction runs on the undirected VIEW (every endpoint a key),
      // then arcs of evicted components vanish with their src keys —
      // a surviving src can't point at an evicted dst because the arc
      // puts both endpoints in the same component
      val evicted = GraphRegistry.evict(GraphRegistry.undirected(g.adj), g.touch, maxNodes)
      evicted.foreach(g.adj.remove)
      val (hubs, auths) = hubsAuths(g.adj, iterations)
      // per side: tombstones, then upserts; all tombstones lead, by (id, side)
      val (hubGone, hubUp) = GraphRegistry.emissions(evicted, st.hubs, hubs)(
        HitsRow("hub", _, _)).partition(_.v.isEmpty)
      val (authGone, authUp) = GraphRegistry.emissions(evicted, st.auths, auths)(
        HitsRow("auth", _, _)).partition(_.v.isEmpty)
      (HitsRegistry(g.sortedAdj, hubs, auths, g.recency, g.tick),
        ((hubGone ++ authGone).sortBy(r => (r.id, r.side)) ++ hubUp ++ authUp).iterator)
    }
  }

  /** The batch half-steps, verbatim arithmetic (qsum = Σ floor(v·2⁴⁰)
    * exact longs, then /2⁴⁰ as double; L1 renormalize by the
    * identically-quantized global sum). */
  private def hubsAuths(out: collection.Map[Long, collection.Set[Long]],
      iterations: Int): (Map[Long, Double], Map[Long, Double]) = {
    def qsumTo(acc: scala.collection.mutable.HashMap[Long, Long],
        k: Long, v: Double): Unit =
      acc(k) = acc.getOrElse(k, 0L) + math.floor(v * QH).toLong
    def normalized(rawQ: scala.collection.mutable.HashMap[Long, Long])
        : scala.collection.mutable.HashMap[Long, Double] = {
      val raw = rawQ.map { case (k, q) => k -> q.toDouble / QH }
      var sQ = 0L
      raw.valuesIterator.foreach(v => sQ += math.floor(v * QH).toLong)
      val s = sQ.toDouble / QH
      raw.map { case (k, v) => k -> v / s }
    }

    if (out.isEmpty) (Map.empty, Map.empty)
    else {
      val h = out.size.toLong
      var hub = scala.collection.mutable.HashMap.from(out.view.mapValues(_ => 1.0 / h))
      var auth = scala.collection.mutable.HashMap.empty[Long, Double]
      for (_ <- 1 to iterations) {
        val aRaw = scala.collection.mutable.HashMap.empty[Long, Long]
        out.foreach { case (u, dsts) =>
          val hv = hub(u)
          dsts.foreach(d => qsumTo(aRaw, d, hv))
        }
        auth = normalized(aRaw)
        val hRaw = scala.collection.mutable.HashMap.empty[Long, Long]
        out.foreach { case (u, dsts) =>
          dsts.foreach(d => qsumTo(hRaw, u, auth(d)))
        }
        hub = normalized(hRaw)
      }
      (hub.toMap, auth.toMap)
    }
  }
}
