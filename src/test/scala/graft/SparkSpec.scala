package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs submitted while `body` runs. */
  def jobsDuring(body: => Unit): Int = runDuring(body).jobs

  /** Jobs submitted and input bytes read by tasks while `body` runs.
    * Listener events arrive asynchronously but in order, so a marker
    * job run after `body` (and not counted) proves every earlier job
    * start and task end was delivered. */
  def runDuring(body: => Unit): SparkSpec.Run = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val bytesRead = new AtomicLong
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => marker == p.getProperty(SparkSpec.MarkerKey)))
          flushed.countDown()
        else jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (flushed.getCount > 0) Option(e.taskMetrics).foreach(m => bytesRead.addAndGet(m.inputMetrics.bytesRead))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(SparkSpec.MarkerKey, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SparkSpec.MarkerKey, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
      SparkSpec.Run(jobs.get, bytesRead.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  final case class Run(jobs: Int, bytesRead: Long)

  private val MarkerKey = "graft.spec.jobsDuring"

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.InProcessLocalFs].getName)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
