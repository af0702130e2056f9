package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are declared in `graft.queries.*` modules as [[QueryDef]]s
  * (Spark implementation + DuckDB oracle SQL side by side); this object
  * just flattens them into the driver's two maps.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The star-join revenue rollup — exercises scan, broadcast joins,
    * partial aggregation, and sort in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.CoreQueries.defs.find(_.name == "q04_star_join").get
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryDef.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    QueryDef.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
