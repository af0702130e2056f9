package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational slice — the operators the reference invokes through
  * PySpark (SURVEY.md §2.1-§2.9: scans, projections, filters, the one
  * join generalized to keyed joins, aggregation, window, sort/limit/
  * top-k, set ops, scalar functions, explode) re-expressed as
  * declarative Spark plans that Catalyst optimizes (pushdown, pruning,
  * partial aggregation, broadcast joins, TakeOrderedAndProject).
  *
  * Scale notes (100 TB design intent, verified via .explain):
  *  - dimension joins (customer/nation/region/supplier) are explicit
  *    `broadcast()` — no shuffle of the fact table for them;
  *  - aggregates are groupBy/agg → Catalyst plans partial (map-side)
  *    + final HashAggregate, so the shuffle carries pre-aggregated
  *    rows, not raw lineitems;
  *  - top-k is orderBy+limit → TakeOrderedAndProject (no global sort);
  *  - windows are ALWAYS partitioned (no single-partition WindowExec —
  *    the reference's global row_number at
  *    02-parallel-ocr-with-ray.py:281 is a documented anti-pattern).
  */
object CoreQueries {

  /** Exact money arithmetic: decimal(18,2) sums are associative, so
    * Spark's partial-agg accumulation order and DuckDB's sequential
    * order produce bit-identical results (doubles would not).
    */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  def defs: Seq[QueryDef] = Seq(
    // ----- q01: TPC-H Q1-shaped pricing summary (S3,P4,agg; partial agg)
    QueryDef(
      "q01_agg_pricing",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .filter($"l_shipdate" <= lit("1997-12-01").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum(dec($"l_quantity")).cast("double").as("sum_qty"),
            sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
            sum(dec($"l_extendedprice") * dec(lit(1.0) - $"l_discount"))
              .cast("double").as("sum_disc_price"),
            round(avg($"l_quantity"), 4).as("avg_qty"),
            round(avg($"l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
             |  ROUND(AVG(l_quantity), 4) AS avg_qty,
             |  ROUND(AVG(l_discount), 4) AS avg_disc,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1997-12-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ----- q02: selective filter + projection + top-k (pushdown → TakeOrderedAndProject)
    QueryDef(
      "q02_filter_topk",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
            $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
          .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount")
          .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
          .limit(100)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |LIMIT 100""".stripMargin)),

    // ----- q03: fact ⋈ broadcast dim + grouped agg
    QueryDef(
      "q03_join_agg",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            $"o_custkey" === $"c_custkey", "inner")
          .groupBy($"c_mktsegment")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(dec($"o_totalprice")).cast("double").as("sum_price"),
            countDistinct($"o_custkey").as("n_customers"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |  COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |  COUNT(DISTINCT o_custkey) AS n_customers
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // ----- q04: 5-way star join (fact + 4 broadcast dims), revenue per nation
    QueryDef(
      "q04_star_join",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = broadcast(Tables.customer(s, d))
        val n = broadcast(Tables.nation(s, d))
        val r = broadcast(Tables.region(s, d))
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(n, $"c_nationkey" === $"n_nationkey")
          .join(r, $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name", $"n_name")
          .agg(
            sum(dec($"l_extendedprice") * dec(lit(1.0) - $"l_discount"))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy($"r_name", $"n_name")
      },
      Some("""SELECT r_name, n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_lines
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name
             |ORDER BY r_name, n_name""".stripMargin)),

    // ----- q05: partitioned window top-N (W1 made scale-safe: partitionBy, never global)
    QueryDef(
      "q05_window_topn",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
          .orderBy($"o_custkey", $"rn")
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    // ----- q06: set operations (intersect / except), tagged and unioned
    QueryDef(
      "q06_setops",
      (s, d) => {
        import s.implicits._
        val custNations = Tables.customer(s, d).select($"c_nationkey".as("nk"))
        val suppNations = Tables.supplier(s, d).select($"s_nationkey".as("nk"))
        val both = custNations.intersect(suppNations).withColumn("op", lit("both"))
        val custOnly = custNations.except(suppNations).withColumn("op", lit("cust_only"))
        both.unionByName(custOnly)
          .select($"op", $"nk")
          .orderBy($"op", $"nk")
      },
      Some("""SELECT 'both' AS op, nk FROM
             |  (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
             |UNION ALL
             |SELECT 'cust_only' AS op, nk FROM
             |  (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
             |ORDER BY op, nk""".stripMargin)),

    // ----- q07: left-semi join (EXISTS) — customers that placed big orders
    QueryDef(
      "q07_semi_join",
      (s, d) => {
        import s.implicits._
        val bigOrders = Tables.orders(s, d).filter($"o_totalprice" > 400000)
        Tables.customer(s, d)
          .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_name", $"c_mktsegment")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment
             |FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
             |ORDER BY c_custkey""".stripMargin)),

    // ----- q08: left-anti join (NOT EXISTS) — idempotent-skip pattern of
    // 01-download-pdfs.py:100-101 re-expressed relationally
    QueryDef(
      "q08_anti_join",
      (s, d) => {
        import s.implicits._
        val bigOrders = Tables.orders(s, d).filter($"o_totalprice" > 200000)
        Tables.customer(s, d)
          .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_name", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
             |ORDER BY c_custkey""".stripMargin)),

    // ----- q09: JSON extraction over events.props (SURVEY §2.11 D6)
    QueryDef(
      "q09_json_extract",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .withColumn("k", get_json_object($"props", "$.k").cast("int"))
          .groupBy($"event_type")
          .agg(
            count(lit(1)).as("n"),
            sum($"k").as("sum_k"),
            max($"k").as("max_k"),
            min($"k").as("min_k"),
            sum(dec($"value")).cast("double").as("sum_value"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
             |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
             |  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ----- q10: event-time tumbling window (batch-mode window(); streaming analogue in graft.streaming)
    QueryDef(
      "q10_time_buckets",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum(dec($"value")).cast("double").as("sum_value"))
          .select(
            date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
            $"event_type", $"n", $"sum_value")
          .orderBy($"hour_start", $"event_type")
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             |  event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY hour_start, event_type""".stripMargin)),

    // ----- q11: global counts (S7) + exact distinct
    QueryDef(
      "q11_counts",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d).agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("n_orders"),
          countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"))
      },
      Some("""SELECT COUNT(*) AS n_rows,
             |  COUNT(DISTINCT l_orderkey) AS n_orders,
             |  COUNT(DISTINCT l_partkey) AS n_parts,
             |  COUNT(DISTINCT l_suppkey) AS n_supps
             |FROM lineitem""".stripMargin)),

    // ----- q12: conditional aggregation (CASE WHEN pivot)
    QueryDef(
      "q12_case_agg",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .groupBy($"l_linestatus")
          .agg(
            sum(when($"l_returnflag" === "R", 1).otherwise(0)).as("n_returned"),
            sum(when($"l_returnflag" === "A", 1).otherwise(0)).as("n_accepted"),
            sum(when($"l_returnflag" === "N", 1).otherwise(0)).as("n_none"),
            sum(when($"l_returnflag" === "R", dec($"l_extendedprice"))
              .otherwise(dec(lit(0)))).cast("double").as("returned_value"))
          .orderBy($"l_linestatus")
      },
      Some("""SELECT l_linestatus,
             |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
             |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
             |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_none,
             |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS returned_value
             |FROM lineitem
             |GROUP BY l_linestatus
             |ORDER BY l_linestatus""".stripMargin)),

    // ----- q13: scalar-function surface F1-F7 (substring, translate,
    // concat_ws, length, element_at/1-based indexing) over documents
    QueryDef(
      "q13_scalar_funcs",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select(
            $"doc_id",
            substring($"text", 1, 7).as("prefix7"),
            translate(substring($"text", 1, 20), " ", "_").as("slug"),
            concat_ws("_", $"lang", $"source").as("lang_source"),
            length($"text").as("text_len"),
            element_at(split($"text", " "), 1).as("first_word"),
            upper($"lang").as("lang_upper"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  substring(text, 1, 7) AS prefix7,
             |  replace(substring(text, 1, 20), ' ', '_') AS slug,
             |  lang || '_' || source AS lang_source,
             |  length(text) AS text_len,
             |  string_split(text, ' ')[1] AS first_word,
             |  upper(lang) AS lang_upper
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    // ----- q14: explode / generator (A1) — words per doc, top global words
    QueryDef(
      "q14_explode_words",
      (s, d) => {
        import s.implicits._
        graft.Par.spread(Tables.documents(s, d))
          .select($"doc_id",
            explode(graft.functions.TextFunctions.spaceTokens($"text")).as("word"))
          .groupBy($"word")
          .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("n_docs"))
          .orderBy($"n".desc, $"word")
          .limit(20)
      },
      Some("""SELECT word, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
             |WHERE length(word) > 0
             |GROUP BY word
             |ORDER BY n DESC, word
             |LIMIT 20""".stripMargin)),

    // ----- q82: FULL OUTER join — the one §2.3 join type the other
    // declared queries never exercise: per-nation customer counts vs
    // supplier counts with BOTH unmatched sides surfaced (coalesced
    // key, null-side counts to zero). Never broadcastable (see
    // Upsert's scaladoc) — the plan is the shuffle join it must be.
    QueryDef(
      "q82_full_outer",
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d)
          .filter($"c_custkey" % 3 === 0)     // make each side miss nations
          .groupBy($"c_nationkey".as("nk")).agg(count(lit(1)).as("n_cust"))
        val supp = Tables.supplier(s, d)
          .filter($"s_suppkey" % 2 === 0)
          .groupBy($"s_nationkey".as("nk")).agg(count(lit(1)).as("n_supp"))
        cust.withColumnRenamed("nk", "cnk")
          .join(supp.withColumnRenamed("nk", "snk"),
            $"cnk" === $"snk", "full_outer")
          .select(
            coalesce($"cnk", $"snk").as("nationkey"),
            coalesce($"n_cust", lit(0L)).as("n_cust"),
            coalesce($"n_supp", lit(0L)).as("n_supp"))
          .orderBy($"nationkey")
      },
      Some("""WITH c AS (
             |  SELECT c_nationkey AS nk, COUNT(*) AS n_cust
             |  FROM customer WHERE c_custkey % 3 = 0 GROUP BY c_nationkey),
             |s AS (
             |  SELECT s_nationkey AS nk, COUNT(*) AS n_supp
             |  FROM supplier WHERE s_suppkey % 2 = 0 GROUP BY s_nationkey)
             |SELECT COALESCE(c.nk, s.nk) AS nationkey,
             |  COALESCE(n_cust, 0) AS n_cust,
             |  COALESCE(n_supp, 0) AS n_supp
             |FROM c FULL JOIN s ON c.nk = s.nk
             |ORDER BY nationkey""".stripMargin)),

    // ----- q83: BAG-semantics set operations — INTERSECT ALL /
    // EXCEPT ALL keep multiplicities (min / difference of per-value
    // counts), unlike q06's distinct set ops; Spark plans them as
    // count-compare aggregates + generate, no row-by-row matching.
    QueryDef(
      "q83_setops_all",
      (s, d) => {
        import s.implicits._
        val custN = Tables.customer(s, d).select($"c_nationkey".as("nk"))
        val suppN = Tables.supplier(s, d).select($"s_nationkey".as("nk"))
        val inter = custN.intersectAll(suppN)
          .groupBy($"nk").agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        val diff = custN.exceptAll(suppN)
          .groupBy($"nk").agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        inter.unionByName(diff)
          .select($"op", $"nk", $"n")
          .orderBy($"op", $"nk")
      },
      Some("""SELECT 'intersect_all' AS op, nk, COUNT(*) AS n FROM
             |  (SELECT c_nationkey AS nk FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier)
             |GROUP BY nk
             |UNION ALL
             |SELECT 'except_all' AS op, nk, COUNT(*) AS n FROM
             |  (SELECT c_nationkey AS nk FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier)
             |GROUP BY nk
             |ORDER BY op, nk""".stripMargin))
  )
}
