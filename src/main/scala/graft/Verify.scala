package graft
import java.nio.file.{Files, Path, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated name prefixes — dump/check just those queries
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // the session a USER of the library runs: graft functions +
    // optimizer rules installed (all equivalence-preserving) — the
    // gate then verifies exactly the plans the recommended session
    // produces
    val spark = Graft.mainSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // reliable checkpoint dir: the iterative loops' Iterate.truncate
    // then truncates lineage through recoverable checkpoint FILES
    // instead of localCheckpoint blocks — the cluster-safe path
    // (executor loss mid-loop cannot destroy locally-checkpointed
    // partitions), and the dump runs exactly the plans a checkpoint-
    // dir-configured production session would run. It lives outside
    // outDir, whose every entry the oracle compare reads as a query.
    val ckpt = Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Graft.dropBlocks(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.walk(ckpt).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    spark.stop()
  }
}
