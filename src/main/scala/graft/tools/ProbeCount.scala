package graft.tools

/** Scale-probe row counter: runs named declared queries against an
  * arbitrary corpus dir and prints `name,rows,seconds` — the
  * invariant side of a scale probe (e.g. the sf1 decade: q28's pair
  * count must be exactly K× the sf0.1 count under ScaleUp's
  * replica-disjoint corpus; q324/q339's hash-capped pools must stay
  * bounded regardless of corpus size). Timing here is count()-pruned
  * and NOT comparable to Bench rows — use BENCH_ONLY for wall times.
  *
  *   sbt "runMain graft.tools.ProbeCount /tmp/graft-sf1 q28_minhash_pairs q324_rouge_pairs"
  */
object ProbeCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.Graft.mainSession("graft-probe-count")
    val qs = graft.SparkEntry.queries
    names.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val n = qs(name)(spark, sfDir).count()
        println(f"[probe] $name,$n,${(System.nanoTime() - t0) / 1e9}%.1f")
      } catch { case e: Throwable =>
        println(s"[probe] $name,FAILED,${e.getMessage}")
      } finally graft.Graft.dropBlocks(spark)
    }
    spark.stop()
  }
}
