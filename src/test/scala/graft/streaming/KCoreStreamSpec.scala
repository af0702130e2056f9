package graft.streaming

import graft.SparkSpec
import graft.operators.GraphOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Stream ≡ batch parity for [[KCoreStream]] against `GraphOps.kCore`
  * (the q209 batch operator) — the ComponentStream discipline applied
  * to the graph family: any split/order of the edge stream, folded
  * through an id-keyed upsert, must converge to exactly the batch
  * k-core labeling.
  */
class KCoreStreamSpec extends SparkSpec {
  import KCoreStream.{CoreRow, Edge}

  private def upsert(rows: Seq[CoreRow]): Map[Long, Long] =
    rows.foldLeft(Map.empty[Long, Long]) {
      case (acc, r) => acc + (r.id -> r.core_deg)
    }

  private def batchCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.kCore(edges.toDF("u", "v"), "u", "v", k, rounds = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Drives `chunks` through a fresh stream, returning emissions in
    * arrival order. */
  private def drive(chunks: Seq[Seq[(Long, Long)]], k: Int,
      maxNodes: Int = 1 << 20): Seq[CoreRow] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val name = s"kcore_out_${System.nanoTime()}"
    val mem = MemoryStream[Edge]
    val q = KCoreStream.coreAssignments(mem.toDS(), k, maxNodes)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      chunks.foreach { chunk =>
        mem.addData(chunk.map { case (u, v) => Edge(u, v) })
        q.processAllAvailable()
      }
      spark.table(name).as[CoreRow].collect().toSeq
    } finally q.stop()
  }

  test("cross-batch core growth: a late edge tips a whole chain into the 2-core") {
    // K4 on {1..4} arrives first; then a path 4-5-6-7; then the edge
    // 7-1 closes a cycle and EVERY path node joins the 2-core at once
    // — the upsert must converge to the batch labeling at each stage
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val path = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val stage1 = drive(Seq(k4, path), 2)
    assert(upsert(stage1) === batchCore(k4 ++ path, 2))
    val stage2 = drive(Seq(k4, path, Seq((7L, 1L))), 2)
    assert(upsert(stage2) === batchCore(k4 ++ path :+ (7L, 1L), 2))
    assert(upsert(stage2).keySet === (1L to 7L).toSet)
  }

  test("random edge stream over random batch splits ≡ batch kCore, with duplicates") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(150)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2)
    // duplicated delivery: replay a third of the edges in later chunks
    val withDups = edges ++ edges.take(edges.size / 3)
    var rest = withDups
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    while (rest.nonEmpty) {
      val n = 1 + rnd.nextInt(9)
      chunks += rest.take(n); rest = rest.drop(n)
    }
    val streamed = upsert(drive(chunks.toSeq, 3))
    assert(streamed === batchCore(edges, 3))
  }

  test("emissions are monotone upserts: in-core degree never decreases per id") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val rows = drive(edges.grouped(10).toSeq, 2)
    val lastSeen = scala.collection.mutable.HashMap.empty[Long, Long]
    rows.foreach { r =>
      assert(lastSeen.getOrElse(r.id, Long.MinValue) <= r.core_deg,
        s"core_deg retracted for ${r.id}")
      lastSeen(r.id) = r.core_deg
    }
  }

  test("batch Dataset works through the same call (state starts empty, one pass)") {
    import spark.implicits._
    val tri = Seq(Edge(1L, 2L), Edge(2L, 3L), Edge(3L, 1L), Edge(3L, 4L)).toDS()
    val got = KCoreStream.coreAssignments(tri, 2)
      .collect().map(r => r.id -> r.core_deg).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("cap evicts whole least-recently-touched components; retained stay exact") {
    // two triangles: {1,2,3} then {10,11,12}; cap 4 nodes — the older
    // triangle is evicted wholesale when the second arrives, and the
    // second's core answers stay exact
    val t1 = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val t2 = Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val rows = drive(Seq(t1, t2), 2, maxNodes = 4)
    val live = upsert(rows)
    // the first triangle's rows were emitted before eviction and stay
    // final in the sink; the second triangle is exact
    assert(live === Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      10L -> 2L, 11L -> 2L, 12L -> 2L))
  }

  test("a batch whose own component overflows the cap emits first, then evicts") {
    // cap 2 nodes, and one batch holds the triangle {1,2,3}: its 2-core
    // rows are emitted (final in the sink) before the triangle is
    // evicted. The next batch's triangle {1,2,4} then starts fresh:
    // retained state would have given 1 and 2 in-core degree 3
    val rows = drive(Seq(Seq((1L, 2L), (2L, 3L), (3L, 1L)),
      Seq((1L, 2L), (2L, 4L), (4L, 1L))), 2, maxNodes = 2)
    assert(rows === Seq(CoreRow(1L, 2L), CoreRow(2L, 2L), CoreRow(3L, 2L),
      CoreRow(1L, 2L), CoreRow(2L, 2L), CoreRow(4L, 2L)))
  }
}
