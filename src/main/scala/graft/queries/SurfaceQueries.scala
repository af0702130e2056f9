package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.r4
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SQL-surface breadth: map-typed columns (q104), exact interpolated
  * percentiles (q105), and the conditional/argmax aggregate family
  * (q106). Oracles compute the same results relationally — the point
  * is that the Spark surface (map lambdas, percentile arrays,
  * FILTER-style aggregates) reduces to the same answers.
  */
object SurfaceQueries {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  def defs: Seq[QueryDef] = Seq(
    // ----- q104: map functions — per-order flag→quantity map built
    // with map_from_entries(collect_list(struct)), transformed with
    // transform_values, pruned with map_filter, read back with
    // element_at, and exploded to rows for the oracle. Map columns
    // stay inside the plan; only the exploded view leaves it.
    QueryDef(
      "q104_map_functions",
      (s, d) => {
        import s.implicits._
        val m = Tables.lineitem(s, d)
          .groupBy($"l_orderkey", $"l_returnflag")
          .agg(sum(dec($"l_quantity")).cast("double").as("qty"))
          .groupBy($"l_orderkey")
          .agg(map_from_entries(
            array_sort(collect_list(struct($"l_returnflag", $"qty"))))
            .as("flag_qty"))
          // double every value, then keep only flags with qty > 30
          .withColumn("scaled", transform_values($"flag_qty", (_, v) => v * 2))
          .withColumn("big", map_filter($"scaled", (_, v) => v > 30))
          .withColumn("n_flags", size($"big"))
          .withColumn("r_qty", element_at($"big", "R"))
        m.filter($"n_flags" > 0)
          .select($"l_orderkey", explode($"big").as(Seq("flag", "qty2")), $"n_flags",
            $"r_qty")
          .orderBy($"l_orderkey", $"flag")
      },
      Some("""WITH base AS (
             |  SELECT l_orderkey, l_returnflag AS flag,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * 2 AS qty2
             |  FROM lineitem GROUP BY 1, 2),
             |big AS (SELECT * FROM base WHERE qty2 > 30),
             |meta AS (
             |  SELECT l_orderkey, count(*) AS n_flags,
             |    max(CASE WHEN flag = 'R' THEN qty2 END) AS r_qty
             |  FROM big GROUP BY 1)
             |SELECT big.l_orderkey, flag, qty2, n_flags, r_qty
             |FROM big JOIN meta ON big.l_orderkey = meta.l_orderkey
             |ORDER BY big.l_orderkey, flag""".stripMargin)),

    // ----- q105: exact interpolated percentiles (quartiles + IQR)
    // per market segment — Spark `percentile(col, array(...))` vs
    // DuckDB `quantile_cont`, both the linear-interpolation
    // definition. At 100 TB the q43 KLL sketch approximates exactly
    // this; the pair pins what "approximate" deviates from.
    QueryDef(
      "q105_exact_percentiles",
      (s, d) => {
        import s.implicits._
        Tables.customer(s, d)
          .groupBy($"c_mktsegment")
          .agg(percentile($"c_acctbal", array(lit(0.25), lit(0.5), lit(0.75)))
            .as("qs"))
          .select($"c_mktsegment",
            r4(element_at($"qs", 1)).as("q25"),
            r4(element_at($"qs", 2)).as("median"),
            r4(element_at($"qs", 3)).as("q75"),
            r4(element_at($"qs", 3) - element_at($"qs", 1)).as("iqr"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |  floor(quantile_cont(c_acctbal, 0.25) * 10000 + 0.5) / 10000 AS q25,
             |  floor(quantile_cont(c_acctbal, 0.5) * 10000 + 0.5) / 10000 AS median,
             |  floor(quantile_cont(c_acctbal, 0.75) * 10000 + 0.5) / 10000 AS q75,
             |  floor((quantile_cont(c_acctbal, 0.75) - quantile_cont(c_acctbal, 0.25))
             |    * 10000 + 0.5) / 10000 AS iqr
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ----- q106: conditional / argmax aggregate family — count_if,
    // bool_or/bool_and, max_by/min_by (DuckDB arg_max/arg_min).
    // DuckDB's arg_max can't order by a struct, and ties in
    // o_totalprice DO exist within priority groups (61 at sf0.1) —
    // max_by with a tied ordinal is partition-order-nondeterministic.
    // So the ordinal is a single exact integer: price-cents·10^10 +
    // orderkey (price has 2 decimals; round() lands both engines on
    // the same integer, and the sum stays < 2^63 for orderkeys up to
    // 10^10).
    QueryDef(
      "q106_conditional_aggs",
      (s, d) => {
        import s.implicits._
        val ord = round($"o_totalprice" * 100).cast("long") *
          lit(10000000000L) + $"o_orderkey"
        Tables.orders(s, d)
          .groupBy($"o_orderpriority")
          .agg(
            count_if($"o_totalprice" > 300000).as("n_big"),
            bool_or($"o_orderstatus" === "F").as("any_f"),
            bool_and($"o_totalprice" > 1000).as("all_over_1k"),
            max_by($"o_orderkey", ord).as("key_of_max"),
            min_by($"o_orderkey", ord).as("key_of_min"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  count(*) FILTER (WHERE o_totalprice > 300000) AS n_big,
             |  bool_or(o_orderstatus = 'F') AS any_f,
             |  bool_and(o_totalprice > 1000) AS all_over_1k,
             |  arg_max(o_orderkey,
             |    CAST(round(o_totalprice * 100) AS BIGINT) * 10000000000
             |      + o_orderkey) AS key_of_max,
             |  arg_min(o_orderkey,
             |    CAST(round(o_totalprice * 100) AS BIGINT) * 10000000000
             |      + o_orderkey) AS key_of_min
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ----- q253: PIVOT — the wide-format reporting surface (nation ×
    // order-priority revenue matrix). Spark's relational pivot with an
    // EXPLICIT value list (an implicit list would add a distinct-scan
    // job AND make the output schema data-dependent — non-replayable);
    // the oracle lowers it to conditional decimal aggregation, which
    // is exactly what Catalyst plans for pivot.
    QueryDef(
      "q253_pivot",
      (s, d) => {
        import s.implicits._
        val pr = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        Tables.orders(s, d)
          .join(Tables.customer(s, d),
            $"o_custkey" === $"c_custkey")
          .join(Tables.nation(s, d), $"c_nationkey" === $"n_nationkey")
          .select($"n_name", $"o_orderpriority", dec($"o_totalprice").as("tp"))
          .groupBy($"n_name")
          .pivot("o_orderpriority", pr)
          .agg(sum($"tp").cast("double"))
          .na.fill(0.0)
          .withColumnsRenamed(Map(
            "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
            "4-NOT SPECIFIED" -> "unspecified", "5-LOW" -> "low"))
          .orderBy($"n_name")
      },
      Some("""SELECT n.n_name,
             |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
             |    THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE)
             |    AS urgent,
             |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '2-HIGH'
             |    THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE)
             |    AS high,
             |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '3-MEDIUM'
             |    THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE)
             |    AS medium,
             |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED'
             |    THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE)
             |    AS unspecified,
             |  CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority = '5-LOW'
             |    THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE)
             |    AS low
             |FROM orders o
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)),

    // ----- q254: UNPIVOT/melt — the inverse surface (lineitem's four
    // rate-ish measures to long form, then a per-measure profile).
    // Spark's native unpivot (no stack() string templating); oracle
    // lowers to the canonical UNION ALL.
    QueryDef(
      "q254_unpivot",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_linenumber", $"l_quantity",
            $"l_discount", $"l_tax", $"l_extendedprice")
          .unpivot(
            Array($"l_orderkey", $"l_linenumber"),
            Array($"l_quantity", $"l_discount", $"l_tax", $"l_extendedprice"),
            "measure", "v")
          .groupBy($"measure")
          .agg(count(lit(1)).as("n"),
            r4(min($"v")).as("mn"), r4(max($"v")).as("mx"),
            sum(dec($"v")).cast("double").as("total"))
          .orderBy($"measure")
      },
      Some("""WITH long AS (
             |  SELECT measure, v FROM (
             |    SELECT 'l_quantity' AS measure, l_quantity AS v FROM lineitem
             |    UNION ALL
             |    SELECT 'l_discount', l_discount FROM lineitem
             |    UNION ALL
             |    SELECT 'l_tax', l_tax FROM lineitem
             |    UNION ALL
             |    SELECT 'l_extendedprice', l_extendedprice FROM lineitem))
             |SELECT measure, CAST(count(*) AS BIGINT) AS n,
             |  floor(min(v) * 10000 + 0.5) / 10000 AS mn,
             |  floor(max(v) * 10000 + 0.5) / 10000 AS mx,
             |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM long GROUP BY measure ORDER BY measure""".stripMargin)),

    // ----- q255: analytic rank-function family — dense_rank,
    // percent_rank, cume_dist, and a lag delta over customer order
    // histories, every window PARTITIONED by customer (the suite-wide
    // no-unpartitioned-window pin applies to this query like any
    // other). percent_rank/cume_dist are exactly-rounded IEEE
    // divisions of exact ranks, r4-snapped on both engines.
    QueryDef(
      "q255_rank_functions",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        Tables.orders(s, d)
          .select($"o_custkey", $"o_orderkey", $"o_orderdate",
            dec($"o_totalprice").as("tp"))
          .select($"o_custkey", $"o_orderkey",
            dense_rank().over(w).cast("long").as("drk"),
            r4(percent_rank().over(w)).as("prk"),
            r4(cume_dist().over(w)).as("cd"),
            ($"tp" - lag($"tp", 1).over(w)).cast("double").as("delta_prev"))
          .orderBy($"o_custkey", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
             |  floor(percent_rank() OVER w * 10000 + 0.5) / 10000 AS prk,
             |  floor(cume_dist() OVER w * 10000 + 0.5) / 10000 AS cd,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2))
             |    - lag(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w
             |    AS DOUBLE) AS delta_prev
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ----- q342: correlated LATERAL top-N — the join-a-subquery-
    // per-row SQL surface (Spark 3.2+ LATERAL ≡ DuckDB LATERAL):
    // each nation's 3 highest-balance customers via an ORDER BY …
    // LIMIT subquery correlated on the outer row. The planner
    // rewrites this to a window-rank under the hood — the query pins
    // that the SURFACE form works and agrees across engines (ties by
    // c_custkey, balances exact cents).
    QueryDef(
      "q342_lateral_topn",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("nation")
        Tables.customer(s, d).createOrReplaceTempView("customer")
        s.sql("""
          |SELECT n.n_name, t.c_custkey, t.bal_cents
          |FROM nation n,
          |LATERAL (
          |  SELECT c_custkey,
          |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
          |  FROM customer c
          |  WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY bal_cents DESC, c_custkey
          |  LIMIT 3
          |) t
          |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey
        """.stripMargin)
      },
      Some("""SELECT n.n_name, t.c_custkey, t.bal_cents
             |FROM nation n,
             |LATERAL (
             |  SELECT c_custkey,
             |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
             |  FROM customer c
             |  WHERE c.c_nationkey = n.n_nationkey
             |  ORDER BY bal_cents DESC, c_custkey
             |  LIMIT 3
             |) t
             |ORDER BY n.n_name, t.bal_cents DESC, t.c_custkey""".stripMargin)))
}
