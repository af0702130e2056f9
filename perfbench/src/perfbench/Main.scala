package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Graft

final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
    cores: Int, heap: String, programSha: String, gitHead: String, jdk: String)

/** A failed correctness check; it fails the operation it happened in. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** State of one benchmark run: the session, the tracer, operation and
  * failure counts, and the metrics to print. */
final class Run(val spark: SparkSession, val tracer: Tracer, val o: Opts) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Any]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { val m = what; problems += m; throw new CheckFailed(m) }

  /** One measured operation: counted as attempted, and as failed if it
    * throws or one of its checks fails. */
  def op[A](body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: CheckFailed => failed += 1; None
      case NonFatal(e) => failed += 1; problems += e.toString; None
    }
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Runs `body`, recording its wall seconds in the sample line as `name`. */
  def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally samples(name) = (System.nanoTime() - t0) / 1e9
  }

  def dir(name: String): Path = o.work.resolve(name)
}

/** Benchmark driver: one workload, one seed, one process.
  *
  * {{{
  * perfbench.Main --workload <ingest_pdf|curate_text> --seed <n>
  *   --seconds <s> --trace <0|1> --work-dir <dir> --cores <n> [--heap --program-sha --git-head --jdk]
  * }}}
  *
  * Prints a description of the measured program and its environment,
  * then, as the last line, `{"correct", "attempted", "failed",
  * "metrics"}`: the end-to-end metrics untraced, the per-layer metrics
  * traced. Exits 1 when any correctness check fails.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    var t0 = System.nanoTime()
    val spark = Graft.session(master = s"local[${o.cores}]",
      shufflePartitions = Some(o.cores), appName = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val createS = (System.nanoTime() - t0) / 1e9
    // Graft.session has installed once; this times the re-install that
    // every later Graft.session or Graft.install call on the session pays
    t0 = System.nanoTime()
    Graft.install(spark)
    val installS = (System.nanoTime() - t0) / 1e9

    val r = new Run(spark, new Tracer(spark, o.trace), o)
    r.put("session.create_s", createS, "s")
    r.put("session.install_s", installS, "s")
    val ok =
      try {
        Workloads.run(r, jvmStart)
        r.problems.isEmpty && r.failed == 0
      } catch {
        case NonFatal(e) =>
          r.problems += s"aborted: $e"
          e.printStackTrace()
          false
      }
    val loadEnd = os.getSystemLoadAverage
    val probeMs = cpuProbeMs(o.cores)
    val sparkVersion = spark.version
    spark.stop()

    val env = Seq(
      "seed" -> o.seed, "workload" -> o.workload, "trace" -> o.trace,
      "nproc" -> o.cores, "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", null),
      "xmx" -> o.heap, "jdk" -> o.jdk, "java_version" -> sys.props("java.version"),
      "spark" -> sparkVersion, "git_head" -> o.gitHead, "program_sha256" -> o.programSha,
      "load1_start" -> loadStart, "load1_end" -> loadEnd, "cpu_probe_ms" -> probeMs)
    println(Json.obj(Seq("perfbench" -> Json.obj(Seq(
      "program" -> Json.obj(Program.describe), "env" -> Json.obj(env),
      "samples" -> Json.obj(r.samples.toSeq), "problems" -> Json.arr(r.problems.take(20).toSeq))))))
    val names = if (o.trace) Workloads.PerLayer else Workloads.EndToEnd
    val metrics = names.map { case (n, unit) =>
      n -> Json.obj(Seq("value" -> r.metrics.get(n).map(_._1).getOrElse(Double.NaN), "unit" -> unit))
    }
    println(Json.obj(Seq(
      "correct" -> ok, "attempted" -> math.max(r.attempted, 1L),
      "failed" -> (if (ok) 0L else math.max(r.failed, 1L)), "metrics" -> Json.obj(metrics))))
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  /** Wall time of a fixed integer-hash loop on every core, run after
    * the measurements: the machine's speed at the end of the run, so a
    * run on a slowed machine can be told from a slower program. */
  private def cpuProbeMs(cores: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until cores).map { c =>
      new Thread(() => {
        var h = c.toLong
        var i = 0
        while (i < 50000000) { h = h * 0x9e3779b97f4a7c15L + i; h ^= h >>> 29; i += 1 }
        if (h == 42L) println(h)   // keeps the loop live
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    Opts(workload, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work-dir")), need("cores").toInt, m.getOrElse("heap", "default"),
      m.getOrElse("program-sha", "unknown"), m.getOrElse("git-head", "none"),
      m.getOrElse("jdk", "unknown"))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  /** rendered JSON, nested as is */
  final case class Raw(json: String) { override def toString: String = json }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(json) => json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Seq[_] => arr(xs).json
    case other => str(other.toString)
  }
}
