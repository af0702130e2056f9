package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** State bytes written per micro-batch by a single-key graph registry,
  * against the size of the tracked graph. For each graph size it loads
  * [[PageRankStream]] with one bulk batch of random edges (about ten
  * per node), then adds small batches of fresh edges and prints, per
  * batch, the size of the state store's `<version>.delta` file under
  * the checkpoint's `state/` directory and the operator's reported
  * state memory. Not a spec: run it by hand with
  *
  * {{{
  * sbt "Test/runMain graft.streaming.StateBytesProbe 1000,10000,100000"
  * }}}
  *
  * One tab-separated line per batch: edges, batch id, edges in the
  * batch, delta bytes, state memory bytes, batch ms.
  */
object StateBytesProbe {

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("1000,10000,100000").split(',').map(_.trim.toInt)
    val spark = SparkSession.builder().master("local[2]").appName("state-bytes-probe")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.InProcessLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    println("edges\tbatch\tbatch_edges\tdelta_bytes\tstate_mem_bytes\tbatch_ms")
    sizes.foreach { n =>
      val rnd = new scala.util.Random(n)
      val nodes = math.max(2, n / 5)
      def edges(k: Int) = Seq.fill(k)(PageRankStream.Edge(rnd.nextInt(nodes), rnd.nextInt(nodes)))
      val checkpoint = Files.createTempDirectory("state-bytes").toFile
      val mem = MemoryStream[PageRankStream.Edge]
      val q = PageRankStream.rankAssignments(mem.toDS()).writeStream
        .format("noop").option("checkpointLocation", checkpoint.toString)
        .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
      try (edges(n) +: Seq.fill(5)(edges(10))).zipWithIndex.foreach { case (batch, id) =>
        mem.addData(batch); q.processAllAvailable()
        val p = q.lastProgress
        val delta = new File(checkpoint, s"state/0/0/${id + 1}.delta")
        println(Seq(n, id, batch.size, delta.length, p.stateOperators.head.memoryUsedBytes,
          p.batchDuration).mkString("\t"))
      } finally { q.stop(); FileUtils.deleteDirectory(checkpoint) }
    }
    spark.stop()
  }
}
