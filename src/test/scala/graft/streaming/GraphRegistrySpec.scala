package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** [[GraphRegistry]]'s pieces on their own, and a restart from a
  * checkpoint for one operator of each registry state shape: the
  * undirected `Registry` (PageRank), `EigRegistry`, `HitsRegistry`,
  * SSSP's packed `Registry` and `ComponentStream`'s union-find. A
  * query stopped halfway and restarted on the same checkpoint and
  * source must emit exactly what an uninterrupted run emits.
  */
class GraphRegistrySpec extends SparkSpec {

  test("undirected fold drops self-loops, dedups, touches both endpoints") {
    val g = new GraphRegistry.Tracked(Map(1L -> Seq(2L), 2L -> Seq(1L)), Map(1L -> 1L, 2L -> 1L), 1L)
      .fold(Iterator((2L, 1L), (3L, 3L), (2L, 4L)))
    assert(g.tick === 2L)
    assert(g.sortedAdj === Map(1L -> Seq(2L), 2L -> Seq(1L, 4L), 4L -> Seq(2L)))
    assert(g.recency === Map(1L -> 2L, 2L -> 2L, 4L -> 2L))
  }

  test("undirected view keys every endpoint and drops self-loops") {
    val und = GraphRegistry.undirected(Map(1L -> Seq(2L, 1L), 3L -> Seq(3L)))
    assert(und.view.mapValues(_.toSet).toMap === Map(1L -> Set(2L), 2L -> Set(1L), 3L -> Set()))
  }

  test("eviction drops whole components, oldest first, ties to the smaller min id") {
    val und = GraphRegistry.undirected(Map(1L -> Seq(2L), 5L -> Seq(6L), 8L -> Seq(9L)))
    val touch = mutable.HashMap(1L -> 3L, 2L -> 1L, 5L -> 3L, 6L -> 3L, 8L -> 4L, 9L -> 4L)
    // {1,2} and {5,6} both last touched at 3: {1,2} goes first, and
    // that alone brings 6 nodes to the cap of 4
    assert(GraphRegistry.evict(und, touch, 4) === Set(1L, 2L))
    assert(und.keySet === Set(5L, 6L, 8L, 9L) && touch.keySet === und.keySet)
    assert(GraphRegistry.evict(und, touch, 4).isEmpty)
  }

  test("emission diff: sorted tombstones for evicted emitted ids, then sorted changes") {
    val rows = GraphRegistry.emissions(Set(7L, 3L, 9L), Map(3L -> 1.0, 7L -> 2.0, 4L -> 5.0),
      Map(5L -> 1.0, 4L -> 5.0, 1L -> 3.0))((id, v) => (id, v))
    assert(rows === Seq((3L, None), (7L, None), (1L, Some(3.0)), (5L, Some(1.0))))
  }

  /** Emissions of `op` over `chunks`, one micro-batch each, through a
    * sink that survives a restart; with `restart`, the query is stopped
    * after half the chunks and a new one resumes on the same checkpoint
    * and source. */
  private def run[I: Encoder, O](chunks: Seq[Seq[I]], restart: Boolean)(
      op: Dataset[I] => Dataset[O]): Seq[O] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[I]
    val checkpoint = Files.createTempDirectory("graph-restart").toFile
    val out = mutable.ArrayBuffer.empty[O]
    def start() = op(mem.toDS()).writeStream
      .foreachBatch { (b: Dataset[O], _: Long) => out ++= b.collect(); () }
      .option("checkpointLocation", checkpoint.toString)
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    var q = start()
    try chunks.zipWithIndex.foreach { case (chunk, i) =>
      if (restart && i == chunks.size / 2) { q.stop(); q = start() }
      mem.addData(chunk); q.processAllAvailable()
    } finally { q.stop(); FileUtils.deleteDirectory(checkpoint) }
    out.toSeq
  }

  /** Id-keyed upsert: the last field is the value, the rest the key; a
    * `None` or SSSP tombstone value retracts the key. */
  private def upsert(rows: Seq[Product]): Map[Seq[Any], Any] =
    rows.foldLeft(Map.empty[Seq[Any], Any]) { (acc, r) =>
      val f = r.productIterator.toSeq
      f.last match {
        case None | SsspStream.Tombstone => acc - f.init
        case v => acc + (f.init -> v)
      }
    }

  /** 8 chunks of 10 arcs inside six 5-node clusters, so the caps below
    * evict whole older clusters on both sides of the restart. */
  private def clustered(seed: Int): Seq[Seq[(Long, Long)]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(8)(Seq.fill(10) {
      val c = 10L * rnd.nextInt(6)
      (c + rnd.nextInt(5), c + rnd.nextInt(5))
    })
  }

  /** Asserts a restarted run emits what a straight run does; returns
    * the rows. */
  private def restartExact[I: Encoder, O <: Product](chunks: Seq[Seq[I]])(
      op: Dataset[I] => Dataset[O]): Seq[O] = {
    val straight = run(chunks, restart = false)(op)
    val restarted = run(chunks, restart = true)(op)
    assert(straight.nonEmpty)
    assert(upsert(restarted) === upsert(straight))
    assert(restarted === straight)
    straight
  }

  test("restart from a checkpoint: PageRank (undirected Registry)") {
    import spark.implicits._
    import PageRankStream.Edge
    val chunks = clustered(1).map(_.map { case (u, v) => Edge(u, v) })
    val rows = restartExact(chunks)(PageRankStream.rankAssignments(_, maxNodes = 12))
    assert(rows.exists(_.pr.isEmpty), "the cap never evicted")
  }

  test("restart from a checkpoint: eigenvector (EigRegistry)") {
    import spark.implicits._
    import CentralityStream.Edge
    val chunks = clustered(2).map(_.map { case (u, v) => Edge(u, v) })
    val rows = restartExact(chunks)(CentralityStream.eigenAssignments(_, maxNodes = 12))
    assert(rows.exists(_.eig.isEmpty), "the cap never evicted")
  }

  test("restart from a checkpoint: HITS (HitsRegistry)") {
    import spark.implicits._
    import CentralityStream.Arc
    val chunks = clustered(3).map(_.map { case (u, v) => Arc(u, v) })
    val rows = restartExact(chunks)(CentralityStream.hitsAssignments(_, maxNodes = 12))
    assert(rows.exists(_.v.isEmpty), "the cap never evicted")
  }

  test("restart from a checkpoint: SSSP (packed Registry)") {
    import spark.implicits._
    import SsspStream.WArc
    val chunks = clustered(4).zipWithIndex.map { case (c, i) =>
      c.map { case (u, v) => WArc(u, v, 1L + (u * 7 + v + i) % 9) }
    }
    val rows = restartExact(chunks)(SsspStream.distanceAssignments(_, seedMod = 3L, maxNodes = 12))
    assert(rows.exists(_.distQ == SsspStream.Tombstone), "the cap never evicted")
  }

  test("restart from a checkpoint: ComponentStream (union-find)") {
    import spark.implicits._
    import ComponentStream.Pair
    val chunks = clustered(5).map(_.map { case (u, v) => Pair(u, v) })
    restartExact(chunks)(ComponentStream.assignments(_, maxNodes = 12))
  }
}
