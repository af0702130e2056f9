package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task counters of one span, summed over every task of every job the
  * span submitted. */
final class SpanCounters {
  var jobs = 0
  var firstJobStartMs = Long.MaxValue
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  /** task durations (ms) per stage, for the slowest-to-median ratio */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Slowest task ÷ median task in the span's busiest stage (the one
    * with the most summed task time); 1.0 when it ran no tasks. */
  def taskMaxToMedian: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val busiest = stageTaskMs.values.maxBy(_.sum)
      val s = busiest.sorted
      val med = math.max(Stats.median(s.map(_.toDouble).toSeq), 1.0)
      s.last / med
    }
}

/** Spans around calls into the engine's layers, plus task counters
  * attributed to them.
  *
  * A span is one call into a layer: its wall time is measured on the
  * driver, and when tracing is on every job the call submits carries
  * the span's id as a Spark local property, so a listener attributes
  * each finished task to the span whose call caused it — exact even
  * though listener events arrive asynchronously. With tracing off the
  * span only times the call: no listener, no properties.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val seq = new AtomicLong(0)
  private val bySpan = new ConcurrentHashMap[String, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val tasksSeen = new AtomicLong(0)

  /** (layer, span id, wall seconds, call start epoch ms), in call order */
  val spans = mutable.ArrayBuffer.empty[(String, String, Double, Long)]

  if (enabled) spark.sparkContext.addSparkListener(new SparkListener {
    private def spanOf(props: java.util.Properties): String =
      if (props == null) null else props.getProperty(Key)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      if (id != null) {
        val c = bySpan.computeIfAbsent(id, _ => new SpanCounters)
        c.synchronized {
          c.jobs += 1
          c.firstJobStartMs = math.min(c.firstJobStartMs, e.time)
        }
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = spanOf(e.properties)
      if (id != null) stageSpan.put(e.stageInfo.stageId, id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasksSeen.incrementAndGet()
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val c = bySpan.computeIfAbsent(id, _ => new SpanCounters)
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRecords += m.inputMetrics.recordsRead
          c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
      }
    }
  })

  /** Times `body` as one call into `layer`. */
  def span[A](layer: String)(body: => A): A = {
    val id = s"$layer#${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    if (enabled) sc.setLocalProperty(Key, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      if (enabled) sc.setLocalProperty(Key, null)
      spans += ((layer, id, secs, startMs))
    }
  }

  /** Wall seconds of every span of `layer`. */
  def seconds(layer: String): Seq[Double] =
    spans.collect { case (l, _, s, _) if l == layer => s }.toSeq

  /** Counters of every span of `layer`, with each span's start time.
    * Waits for the listener to catch up first. */
  def counters(layer: String): Seq[(SpanCounters, Long, Double)] = {
    settle()
    spans.collect { case (l, id, s, start) if l == layer =>
      (Option(bySpan.get(id)).getOrElse(new SpanCounters), start, s)
    }.toSeq
  }

  /** Barrier job + bounded wait until its task end has been delivered:
    * every earlier event precedes it on the listener bus. */
  def settle(): Unit = if (enabled) {
    val before = tasksSeen.get()
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 5_000_000_000L
    while (tasksSeen.get() <= before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def reset(): Unit = { spans.clear(); bySpan.clear(); stageSpan.clear() }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 ≤ q ≤ 1) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
