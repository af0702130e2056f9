package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{FuzzyJoin, Linkage, RangeJoin}
import org.apache.spark.sql.functions._

/** Non-equi matching operators: interval-overlap range join (grid-
  * binned equi-join, never a cartesian) and edit-distance fuzzy join
  * (q-gram prefix filter). The DuckDB oracles run the NAIVE
  * inequality-join formulations — same answer through an independent
  * plan, which is exactly what these operators must prove.
  */
object MatchQueries {

  def defs: Seq[QueryDef] = Seq(
    // ----- q92: interval-overlap range join — returned-lineitem ship
    // windows [shipdate, +7d] overlapping urgent high-value order
    // windows [orderdate, +3d], counted per order. Spark executes the
    // grid-binned equi-join with canonical-bin dedup; the oracle is
    // the plain inequality join.
    QueryDef(
      "q92_range_join",
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d)
          .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 400000)
          .withColumn("os", datediff(to_date($"o_orderdate"), lit("1990-01-01")))
          .withColumn("oe", $"os" + 3)
          .select($"o_orderkey", $"os", $"oe")
        val l = Tables.lineitem(s, d)
          .filter($"l_returnflag" === "R")
          .withColumn("ls", datediff(to_date($"l_shipdate"), lit("1990-01-01")))
          .withColumn("le", $"ls" + 7)
          .select($"l_quantity", $"ls", $"le")
        RangeJoin.overlapJoin(l, "ls", "le", o, "os", "oe", binWidth = 8)
          .groupBy($"o_orderkey")
          .agg(count(lit(1)).as("n_overlap"),
            // decimal accumulation (repo determinism contract): a raw
            // double sum is partition-order-dependent; exact today only
            // because fixture quantities are integral
            sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy($"o_orderkey")
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey,
             |    datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS os
             |  FROM orders
             |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000),
             |l AS (
             |  SELECT l_quantity,
             |    datediff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) AS ls
             |  FROM lineitem WHERE l_returnflag = 'R')
             |SELECT o_orderkey, count(*) AS n_overlap,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM o JOIN l ON l.ls <= o.os + 3 AND o.os <= l.ls + 7
             |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // ----- q93: fuzzy self-join of part names within edit distance 2.
    // Spark runs the Ed-Join prefix-filtered plan; the oracle runs the
    // naive O(N²) inequality join (fine at oracle scale, impossible at
    // corpus scale — which is the point).
    QueryDef(
      "q93_fuzzy_join",
      (s, d) => {
        import s.implicits._
        val names = Tables.part(s, d).select($"p_name").distinct()
        FuzzyJoin.editDistancePairs(s, names, "p_name", tau = 2)
          .orderBy($"name_a", $"name_b")
      },
      Some("""SELECT a.p_name AS name_a, b.p_name AS name_b,
             |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
             |FROM (SELECT DISTINCT p_name FROM part) a
             |JOIN (SELECT DISTINCT p_name FROM part) b
             |  ON a.p_name < b.p_name
             | AND levenshtein(a.p_name, b.p_name) <= 2
             |ORDER BY name_a, name_b""".stripMargin)),

    // ----- q141: Fellegi–Sunter record linkage (operators/Linkage) —
    // nation-blocked customer pairs scored by three-field agreement
    // log-likelihood weights (name edit distance, segment equality,
    // balance proximity), classified link/possible/nonlink. Weights
    // are driver-computed integer micro-nats embedded as literals in
    // BOTH plans, so neither engine evaluates a transcendental and
    // scores are exact integer sums; the oracle reruns the naive
    // blocked join with the identical constants.
    QueryDef(
      "q141_record_linkage",
      (s, d) => {
        import s.implicits._
        // Par.spread: the probe side of the blocked join carries the
        // 4.5M-pair levenshtein work — a single-file scan would run
        // it on one task (the q28 n-gram lesson)
        Linkage.fsPairs(
            graft.Par.spread(Tables.customer(s, d)),
            "c_custkey", Seq("c_nationkey"), fsFields)
          .withColumn("cls",
            Linkage.classify($"fs_score", FsTLow, FsTHigh))
          .orderBy($"fs_score".desc, $"id_a", $"id_b")
          .limit(50)
      },
      Some {
        val score = Linkage.fsScoreSql(fsFields, Seq(
          "levenshtein(a.c_name, b.c_name) <= 2",
          "a.c_mktsegment = b.c_mktsegment",
          "abs(a.c_acctbal - b.c_acctbal) < 100.0"))
        s"""SELECT id_a, id_b, ag_name, ag_seg, ag_bal, fs_score,
           |  CASE WHEN fs_score >= $FsTHigh THEN 'link'
           |       WHEN fs_score >= $FsTLow THEN 'possible'
           |       ELSE 'nonlink' END AS cls
           |FROM (
           |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           |    CAST(CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
           |      THEN 1 ELSE 0 END AS BIGINT) AS ag_name,
           |    CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
           |      THEN 1 ELSE 0 END AS BIGINT) AS ag_seg,
           |    CAST(CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0
           |      THEN 1 ELSE 0 END AS BIGINT) AS ag_bal,
           |    CAST($score AS BIGINT) AS fs_score
           |  FROM customer a JOIN customer b
           |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
           |ORDER BY fs_score DESC, id_a, id_b
           |LIMIT 50""".stripMargin
      }),

    // ----- q216: blocked Jaro–Winkler similarity join over part
    // names — the string-distance member next to q93 (Levenshtein
    // band) and q141 (Fellegi–Sunter): JW's prefix-boosted edit
    // affinity is the standard name-matching scorer, here as a NATIVE
    // codegen expression (functions.JaroWinkler — one fused static
    // call inside whole-stage codegen, no UDF) with DuckDB's built-in
    // `jaro_winkler_similarity` as the cross-engine oracle (same IEEE
    // op sequence, spec-pinned). Blocking = (first name token,
    // p_size): equi-join keys, never part × part — Σ blk² pairs, the
    // q141 anti-quadratic shape. e4-snapped scores keep the
    // comparison away from ulp boundaries.
    QueryDef(
      "q216_jaro_winkler_join",
      (s, d) => {
        import s.implicits._
        val p = graft.Par.spread(Tables.part(s, d))
          .select($"p_partkey", $"p_name", $"p_size",
            split($"p_name", " ").getItem(0).as("blk"))
        val jw = graft.functions.GraftFunctions
          .jaro_winkler($"a.p_name", $"b.p_name")
        p.as("a").join(p.as("b"),
            $"a.blk" === $"b.blk" && $"a.p_size" === $"b.p_size" &&
              $"a.p_partkey" < $"b.p_partkey")
          .filter(jw >= 0.9)
          .select($"a.p_partkey".as("pa"), $"b.p_partkey".as("pb"),
            floor(jw * 10000 + lit(0.5)).cast("long").as("jw_e4"))
          .orderBy($"pa", $"pb")
      },
      Some("""WITH p AS (
             |  SELECT p_partkey, p_name, p_size,
             |    string_split(p_name, ' ')[1] AS blk
             |  FROM part)
             |SELECT a.p_partkey AS pa, b.p_partkey AS pb,
             |  CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
             |    * 10000 + 0.5) AS BIGINT) AS jw_e4
             |FROM p a JOIN p b
             |  ON a.blk = b.blk AND a.p_size = b.p_size
             |  AND a.p_partkey < b.p_partkey
             |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
             |ORDER BY pa, pb""".stripMargin)),

    // ----- q224: name-entity resolution — the q216 match graph
    // resolved into ENTITIES via connected components (the full
    // record-linkage pipeline: block → score → link → cluster, the
    // composition q141 stops short of). Same blocked JW join at a
    // tighter 0.94, then Dedup.connectedComponents (min-label
    // propagation; unique fixpoint ⇒ the convergence-stopped loop is
    // replayable), sized per entity. The oracle re-derives every JW
    // edge with DuckDB's built-in and closes the transitive hull with
    // a recursive CTE (the q51 pattern).
    QueryDef(
      "q224_name_entities",
      (s, d) => {
        import s.implicits._
        val p = graft.Par.spread(Tables.part(s, d))
          .select($"p_partkey", $"p_name", $"p_size",
            split($"p_name", " ").getItem(0).as("blk"))
        val jw = graft.functions.GraftFunctions
          .jaro_winkler($"a.p_name", $"b.p_name")
        val pairs = p.as("a").join(p.as("b"),
            $"a.blk" === $"b.blk" && $"a.p_size" === $"b.p_size" &&
              $"a.p_partkey" < $"b.p_partkey")
          .filter(jw >= 0.94)
          .select($"a.p_partkey".as("id_a"), $"b.p_partkey".as("id_b"))
        val cc = graft.operators.Dedup.connectedComponents(
          Tables.part(s, d).select($"p_partkey"), "p_partkey", pairs)
        val sizes = cc.groupBy($"rep").agg(count(lit(1)).as("entity_size"))
        cc.join(sizes, "rep")
          .select($"id".as("p_partkey"), $"rep", $"entity_size")
          .orderBy($"p_partkey")
      },
      Some("""WITH RECURSIVE p AS (
             |  SELECT p_partkey, p_name, p_size,
             |    string_split(p_name, ' ')[1] AS blk
             |  FROM part),
             |e AS (
             |  SELECT a.p_partkey AS u, b.p_partkey AS v
             |  FROM p a JOIN p b
             |    ON a.blk = b.blk AND a.p_size = b.p_size
             |    AND a.p_partkey < b.p_partkey
             |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.94),
             |edges AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
             |reach(src, node) AS (
             |  SELECT p_partkey, p_partkey FROM part
             |  UNION
             |  SELECT r.src, ed.v FROM reach r JOIN edges ed ON r.node = ed.u
             |),
             |cc AS (SELECT src AS p_partkey, MIN(node) AS rep
             |       FROM reach GROUP BY src),
             |sz AS (SELECT rep, CAST(count(*) AS BIGINT) AS entity_size
             |       FROM cc GROUP BY rep)
             |SELECT cc.p_partkey, cc.rep, sz.entity_size
             |FROM cc JOIN sz USING (rep)
             |ORDER BY cc.p_partkey""".stripMargin)),

    // ----- q282: blocking-scheme quality audit — the EVALUATION
    // member of the record-linkage family (q141 scores, q216 joins,
    // q224 resolves; this one measures whether the blocking those
    // steps ride is any good): reduction ratio RR = 1 − cand/allpairs
    // (how much of the n² space the (name-token, size) blocking
    // prunes) and pairs completeness PC = found/truth against the
    // COARSER name-token-only blocking superset (the standard
    // cheap-superset reference — exact global truth is the n² scan
    // blocking exists to avoid). All counts exact integers off two
    // anti-quadratic equi-joins; two snapped ratios; one row out.
    QueryDef(
      "q282_blocking_quality",
      (s, d) => {
        import s.implicits._
        val p = graft.Par.spread(Tables.part(s, d))
          .select($"p_partkey", $"p_name", $"p_size",
            split($"p_name", " ").getItem(0).as("blk"))
          .transform(graft.operators.Iterate.truncate)
        val jw = graft.functions.GraftFunctions
          .jaro_winkler($"a.p_name", $"b.p_name")
        val coarse = p.as("a").join(p.as("b"),
            $"a.blk" === $"b.blk" && $"a.p_partkey" < $"b.p_partkey")
          .select($"a.p_partkey".as("pa"), $"b.p_partkey".as("pb"),
            ($"a.p_size" === $"b.p_size").as("same_size"),
            (jw >= 0.94).as("hi"))
        val cts = coarse.agg(
          sum(when($"same_size", 1L).otherwise(0L)).as("n_cand"),
          sum(when($"hi", 1L).otherwise(0L)).as("n_truth"),
          sum(when($"hi" && $"same_size", 1L).otherwise(0L)).as("n_found"))
        val nn = p.agg(count(lit(1)).as("n_parts"))
        nn.crossJoin(cts)
          .select($"n_parts",
            expr("n_parts * (n_parts - 1) DIV 2").as("all_pairs"),
            $"n_cand", $"n_truth", $"n_found",
            floor((lit(1.0) - $"n_cand".cast("double")
                / expr("n_parts * (n_parts - 1) DIV 2").cast("double"))
              * 1000000 + lit(0.5)).cast("long").as("rr_micro"),
            floor($"n_found".cast("double") / $"n_truth".cast("double")
              * 1000000 + lit(0.5)).cast("long").as("pc_micro"))
      },
      Some("""WITH p AS (
             |  SELECT p_partkey, p_name, p_size,
             |    string_split(p_name, ' ')[1] AS blk
             |  FROM part),
             |coarse AS (
             |  SELECT a.p_size = b.p_size AS same_size,
             |    jaro_winkler_similarity(a.p_name, b.p_name) >= 0.94 AS hi
             |  FROM p a JOIN p b
             |    ON a.blk = b.blk AND a.p_partkey < b.p_partkey),
             |cts AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN same_size THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_cand,
             |    CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_truth,
             |    CAST(SUM(CASE WHEN hi AND same_size THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_found
             |  FROM coarse),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM p)
             |SELECT n_parts, n_parts * (n_parts - 1) // 2 AS all_pairs,
             |  n_cand, n_truth, n_found,
             |  CAST(floor((1.0 - CAST(n_cand AS DOUBLE)
             |      / CAST(n_parts * (n_parts - 1) // 2 AS DOUBLE))
             |    * 1000000 + 0.5) AS BIGINT) AS rr_micro,
             |  CAST(floor(CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE)
             |    * 1000000 + 0.5) AS BIGINT) AS pc_micro
             |FROM nn CROSS JOIN cts""".stripMargin)))

  /** q141's comparison fields — ONE definition feeding both the Spark
    * plan and the oracle's weight literals.
    */
  private val fsFields = Seq(
    Linkage.Field("name", "c_name",
      (a, b) => levenshtein(a, b) <= 2, m = 0.9, u = 0.05),
    Linkage.Field("seg", "c_mktsegment",
      (a, b) => a === b, m = 0.8, u = 0.2),
    Linkage.Field("bal", "c_acctbal",
      (a, b) => abs(a - b) < 100.0, m = 0.7, u = 0.02))

  /** Decision thresholds in micro-nats: `link` needs ≈ e^4 higher
    * match odds (strong multi-field agreement); anything net-positive
    * is `possible`.
    */
  private val FsTHigh = 4000000L
  private val FsTLow = 0L
}
