package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class ComponentStreamSpec extends SparkSpec {
  import ComponentStream.{Assign, Pair}

  /** id-keyed upsert of the emissions — the downstream sink contract
    * the emission guarantees convergence for (last write per id wins;
    * in-order replay, so "last" is batch order then emission order).
    */
  private def upsert(batches: Seq[Seq[Assign]]): Map[Long, Long] =
    batches.flatten.foldLeft(Map.empty[Long, Long]) {
      case (acc, a) => acc + (a.id -> a.rep)
    }

  private def batchLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toDF("doc_id")
    Dedup.connectedComponents(ids, "doc_id", pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("stream replay converges to batch labels, including cross-batch merges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // adversarial arrival order: two separately-grown components
    // ({1,2,3} and {10,11,12}) merged LAST — node 12 must be
    // re-emitted with the new rep even though it arrives in no later
    // pair
    val arrivals = Seq(
      Seq((1L, 2L), (10L, 11L)),
      Seq((2L, 3L), (11L, 12L), (20L, 21L)),
      Seq((3L, 10L)))
    val mem = MemoryStream[Pair]
    val q = ComponentStream.assignments(mem.toDS())
      .writeStream.format("memory").queryName("cc_out")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Assign]]
    try {
      arrivals.foreach { chunk =>
        val before = spark.table("cc_out").count()
        mem.addData(chunk.map { case (a, b) => Pair(a, b) })
        q.processAllAvailable()
        seen += spark.table("cc_out").as[Assign].collect().drop(before.toInt).toSeq
      }
    } finally q.stop()
    val streamed = upsert(seen.toSeq)
    val batch = batchLabels(arrivals.flatten)
    assert(streamed === batch)
    // the cross-batch merge specifically: 12 re-labeled to 1
    assert(streamed(12L) === 1L)
  }

  test("random pair stream over random batch splits ≡ batch components and star variant") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val mem = MemoryStream[Pair]
    val q = ComponentStream.assignments(mem.toDS())
      .writeStream.format("memory").queryName("cc_rand")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Assign]]
    try {
      var rest = pairs
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(7)
        val (chunk, tail) = rest.splitAt(n)
        val before = spark.table("cc_rand").count()
        mem.addData(chunk.map { case (a, b) => Pair(a, b) })
        q.processAllAvailable()
        seen += spark.table("cc_rand").as[Assign].collect().drop(before.toInt).toSeq
        rest = tail
      }
    } finally q.stop()
    val streamed = upsert(seen.toSeq)
    val batch = batchLabels(pairs)
    assert(streamed === batch)
    // and the star rounds agree (both proven equal elsewhere — this
    // closes the triangle)
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toDF("doc_id")
    val star = Dedup.connectedComponentsStar(ids, "doc_id", pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === star)
  }

  test("batch Dataset works through the same call (state starts empty, one pass)") {
    import spark.implicits._
    val pairs = Seq(Pair(5L, 6L), Pair(6L, 7L), Pair(9L, 8L)).toDS()
    val got = ComponentStream.assignments(pairs)
      .collect().map(a => a.id -> a.rep).toMap
    assert(got === Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("cap evicts whole least-recently-touched components, retained stay exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Pair]
    // cap 4 nodes: component {1,2,3} then {10,11} then pair (20,21)
    // overflows — {1,2,3} (oldest) must go wholesale; {10,11} and
    // {20,21} stay exact
    val q = ComponentStream.assignments(mem.toDS(), maxNodes = 4)
      .writeStream.format("memory").queryName("cc_cap")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(Pair(1L, 2L), Pair(2L, 3L)); q.processAllAvailable()
      mem.addData(Pair(10L, 11L)); q.processAllAvailable()
      mem.addData(Pair(20L, 21L)); q.processAllAvailable()
      // a pair re-touching the evicted component starts FRESH — 2 and
      // 3 re-link to each other but 1 is forgotten (documented trade)
      mem.addData(Pair(3L, 2L)); q.processAllAvailable()
      import spark.implicits._
      val seen = spark.table("cc_cap").as[Assign].collect()
      val live = upsert(Seq(seen.toSeq))
      assert(live(10L) === 10L && live(11L) === 10L)
      assert(live(20L) === 20L && live(21L) === 20L)
      assert(live(2L) === 2L && live(3L) === 2L) // fresh component, min 2
    } finally q.stop()
  }

  test("a batch whose own component overflows the cap emits first, then evicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Pair]
    // cap 2 nodes, and one batch builds {1,2,3}: its labels are emitted
    // (final in the sink) and only then is the component evicted, so a
    // later pair (3,4) starts a fresh component with rep 3, not 1
    val q = ComponentStream.assignments(mem.toDS(), maxNodes = 2)
      .writeStream.format("memory").queryName("cc_overflow")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(Pair(1L, 2L), Pair(2L, 3L)); q.processAllAvailable()
      val first = spark.table("cc_overflow").as[Assign].collect().toSeq
      assert(first === Seq(Assign(1L, 1L), Assign(2L, 1L), Assign(3L, 1L)))
      mem.addData(Pair(3L, 4L)); q.processAllAvailable()
      val second = spark.table("cc_overflow").as[Assign].collect().toSeq.drop(first.size)
      assert(second === Seq(Assign(3L, 3L), Assign(4L, 3L)))
    } finally q.stop()
  }
}
