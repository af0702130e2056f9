package graft

/** Local plan-inspection tool: print the formatted physical plan of
  * one declared query and time its noop-sink execution —
  * `sbt "runMain graft.Explain <name> <sfDir>"`. The iteration loop
  * behind every plan-audit note in ARCHITECTURE.md.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    // the session Bench and Verify run, optimizer rules included
    val spark = Graft.mainSession("graft-explain")
    // timing covers query CONSTRUCTION too, exactly like Bench.once():
    // two-phase operators (q148's sketch pass, DSIR's LUT build) run
    // eager phase-1 jobs inside the builder, and excluding them would
    // make this tool disagree with the benchmark it exists to explain
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.mode("overwrite").format("noop").save()
    val elapsed = (System.nanoTime() - t0) / 1e9
    df.explain("formatted")
    println(f"[explain] $name build+noop-sink elapsed $elapsed%.2f s")
    spark.stop()
  }
}
