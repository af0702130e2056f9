package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public front door of the engine: one call to get a session with
  * the recommended scale configuration and every graft extension
  * (the SQL functions of [[functions.GraftFunctions.catalogue]], the
  * optimizer rules, the custom as-of planner strategy) installed — the
  * entry point a user of the reference pipeline switches to.
  *
  * DataFrame code needs no install: every graft function handle
  * (`GraftFunctions.cosine_sim`, `SortedIntersectCount.sorted_intersect_count`,
  * …) builds its expression directly. Install makes the same functions
  * callable by name from `spark.sql`, and adds the optimizer rules.
  *
  * ```scala
  * val spark = Graft.session()              // or Graft.install(existing)
  * import graft.pipeline._, graft.operators._
  * val chunks = Inference.chunkDocuments(spark, docs)
  * val index  = Inference.embedChunks(chunks, HashingEmbedder())
  * VectorSearch.searchText(index.toDF(), "embedding", "chunk_id", "query", HashingEmbedder(), 5)
  * ```
  */
object Graft {

  /** Session tuned for the target deployment: AQE (runtime re-plan +
    * skew-join splitting), shuffle partitions sized to cores (not the
    * 200 default), UTC. On a real cluster pass `master = null` and
    * let spark-submit supply the master/resource config.
    *
    * The `file:` scheme is served by [[sources.InProcessLocalFs]],
    * which sets a created file's or directory's permission in the JVM
    * where Hadoop without its native library forks a `chmod` for every
    * file, `.crc` file and directory a write creates. Hadoop
    * caches file systems JVM-wide, keyed without the class, so the
    * first `file:` file system created in a JVM decides the class: a
    * session that existed before this call keeps Hadoop's default,
    * with the same results at the old speed.
    */
  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None,
      appName: String = "graft"): SparkSession = {
    val parts = shufflePartitions.getOrElse(
      math.max(Runtime.getRuntime.availableProcessors(), 2))
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", classOf[sources.InProcessLocalFs].getName)
    val preExisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = (if (master != null) b.master(master) else b).getOrCreate()
    // getOrCreate() silently ignores builder configs when a session
    // already exists (common in tests/notebooks) — re-apply the
    // runtime-settable ones so the tuned-session contract holds
    // either way. (master is JVM-fixed; nothing to do there.)
    if (preExisting.contains(spark)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    install(spark)
    spark
  }

  /** Install graft's SQL functions and optimizer rules on an existing
    * session — the same set `GraftExtensions` injects at session build.
    * Idempotent: only what the session lacks is added, so a second
    * call changes nothing.
    */
  def install(spark: SparkSession): SparkSession = {
    functions.GraftFunctions.install(spark)
    plans.GraftOptimizations.install(spark)
    spark
  }

  /** Cores of the command-line mains: `SPARK_GRAFT_CPUS`, else every
    * core of the machine.
    */
  private[graft] def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session every command-line main runs on: [[session]] on
    * `local[cpus]` with `cpus` shuffle partitions, WARN logging.
    */
  private[graft] def mainSession(appName: String): SparkSession = {
    val spark = session(s"local[$cpus]", Some(cpus), appName)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Free what one query persisted: cached Datasets, and every
    * persistent RDD — including localCheckpoint blocks, which
    * `clearCache()` alone leaves behind (they accumulated to an OOM
    * across a full suite).
    */
  private[graft] def dropBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** The driver test-corpus tables (TESTDATA.md). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(spark, dir, name)
}
