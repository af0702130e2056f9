package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.r4
import graft.operators.GraphOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Corpus/behavior analytics: skip-gram PMI co-occurrence (q97),
  * cohort retention (q98), and PageRank centrality (q99).
  */
object AnalyticsQueries {

  def defs: Seq[QueryDef] = Seq(
    // ----- q97: pointwise mutual information over skip-gram pairs
    // (window ≤ 2). Pair generation is the linear "context slot"
    // trick: each token announces itself at pos+1 and pos+2 and pairs
    // form by an equi-join on (doc, slot) — no per-doc quadratic self
    // join, no arrays held in memory. Unigram/pair totals ride along
    // as 1-row crossJoins.
    QueryDef(
      "q97_pmi_cooccurrence",
      (s, d) => {
        import s.implicits._
        val toks = graft.Par.spread(Tables.documents(s, d))
          .select($"doc_id", posexplode(split($"text", " ")))
          .toDF("doc_id", "pos", "word")
          .filter(length($"word") > 0)
        val contexts = toks.select($"doc_id",
          explode(array($"pos" + 1, $"pos" + 2)).as("slot"), $"word".as("cword"))
        // both sides descend from `toks`, so they are aliased: a
        // `toks("doc_id") === contexts("doc_id")` predicate would name
        // one attribute twice
        val pairs = toks.as("t").join(contexts.as("c"),
            $"t.doc_id" === $"c.doc_id" && $"t.pos" === $"c.slot")
          .select(least($"word", $"cword").as("word_a"),
            greatest($"word", $"cword").as("word_b"))
        val nAb = pairs.groupBy($"word_a", $"word_b").agg(count(lit(1)).as("n_ab"))
        val uni = toks.groupBy($"word").agg(count(lit(1)).as("n"))
        val totalT = toks.agg(count(lit(1)).as("t_total"))
        val totalP = nAb.agg(sum($"n_ab").as("p_total"))
        nAb
          .join(uni.select($"word".as("word_a"), $"n".as("n_a")), "word_a")
          .join(uni.select($"word".as("word_b"), $"n".as("n_b")), "word_b")
          .crossJoin(totalT).crossJoin(totalP)
          .filter($"n_ab" >= 10)
          .withColumn("pmi", r4(log(
            ($"n_ab".cast("double") / $"p_total") /
              (($"n_a".cast("double") / $"t_total") *
                ($"n_b".cast("double") / $"t_total")))))
          .select($"word_a", $"word_b", $"n_ab", $"pmi")
          .orderBy($"pmi".desc, $"word_a", $"word_b")
          .limit(100)
      },
      Some("""WITH toks0 AS (
             |  SELECT doc_id, unnest(ws) AS word,
             |    unnest(list_transform(range(0, len(ws)), x -> x)) AS pos
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
             |toks AS (SELECT * FROM toks0 WHERE length(word) > 0),
             |pairs AS (
             |  SELECT least(t.word, c.word) AS word_a,
             |    greatest(t.word, c.word) AS word_b
             |  FROM toks t JOIN toks c ON t.doc_id = c.doc_id
             |   AND (t.pos = c.pos + 1 OR t.pos = c.pos + 2)),
             |nab AS (SELECT word_a, word_b, count(*) AS n_ab
             |        FROM pairs GROUP BY 1, 2),
             |uni AS (SELECT word, count(*) AS n FROM toks GROUP BY 1),
             |tt AS (SELECT count(*) AS t_total FROM toks),
             |pt AS (SELECT SUM(n_ab) AS p_total FROM nab)
             |SELECT word_a, word_b, n_ab,
             |  floor(ln((CAST(n_ab AS DOUBLE) / (SELECT p_total FROM pt))
             |    / ((CAST(ua.n AS DOUBLE) / (SELECT t_total FROM tt))
             |       * (CAST(ub.n AS DOUBLE) / (SELECT t_total FROM tt))))
             |    * 10000 + 0.5) / 10000 AS pmi
             |FROM nab
             |JOIN uni ua ON nab.word_a = ua.word
             |JOIN uni ub ON nab.word_b = ub.word
             |WHERE n_ab >= 10
             |ORDER BY pmi DESC, word_a, word_b
             |LIMIT 100""".stripMargin)),

    // ----- q207: mutual information between two categorical columns
    // (lang × source), decomposed per language — the information-
    // theoretic association read-out next to q166 (χ²) and q192
    // (Cramér's V), and the feature-selection primitive "how much
    // does knowing the source tell you about the language". Cells
    // are support-sized; each observed cell's ln(p(x,y)/(p(x)p(y)))
    // is snapped at 1e4 (the q97 PMI discipline — one libm call per
    // cell, snapped before the weighted integer sum, so the
    // contribution algebra is exact BIGINT both engines).
    QueryDef(
      "q207_feature_mi",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select($"lang", $"source")
        val nxy = docs.groupBy($"lang", $"source").agg(count(lit(1)).as("nxy"))
        val nx = docs.groupBy($"lang").agg(count(lit(1)).as("nx"))
        val ny = docs.groupBy($"source").agg(count(lit(1)).as("ny"))
        val nn = docs.agg(count(lit(1)).as("n"))
        nxy.join(broadcast(nx), "lang").join(broadcast(ny), "source")
          .crossJoin(broadcast(nn))
          .withColumn("pmi_e4",
            floor(log(($"nxy".cast("double") / $"n")
                / (($"nx".cast("double") / $"n") * ($"ny".cast("double") / $"n")))
              * 10000 + lit(0.5)).cast("long"))
          .groupBy($"lang")
          .agg(min($"nx").as("n_lang"),
            count(lit(1)).as("n_cells"),
            sum($"nxy" * $"pmi_e4").as("mi_contrib_e4"))
          .orderBy($"lang")
      },
      Some("""WITH docs AS (SELECT lang, source FROM documents),
             |nxy AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS nxy
             |        FROM docs GROUP BY 1, 2),
             |nx AS (SELECT lang, CAST(count(*) AS BIGINT) AS nx
             |       FROM docs GROUP BY 1),
             |ny AS (SELECT source, CAST(count(*) AS BIGINT) AS ny
             |       FROM docs GROUP BY 1),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
             |cells AS (
             |  SELECT c.lang, c.nxy, x.nx,
             |    CAST(floor(ln((CAST(c.nxy AS DOUBLE) / t.n)
             |        / ((CAST(x.nx AS DOUBLE) / t.n)
             |           * (CAST(y.ny AS DOUBLE) / t.n)))
             |      * 10000 + 0.5) AS BIGINT) AS pmi_e4
             |  FROM nxy c
             |  JOIN nx x ON c.lang = x.lang
             |  JOIN ny y ON c.source = y.source
             |  CROSS JOIN nn t)
             |SELECT lang, MIN(nx) AS n_lang,
             |  CAST(count(*) AS BIGINT) AS n_cells,
             |  CAST(SUM(nxy * pmi_e4) AS BIGINT) AS mi_contrib_e4
             |FROM cells GROUP BY 1
             |ORDER BY lang""".stripMargin)),

    // ----- q98: cohort retention matrix — users grouped by first-
    // activity week, tracked over weeks-since; the product-analytics
    // staple. Two aggregates and a node-sized join.
    QueryDef(
      "q98_cohort_retention",
      (s, d) => {
        import s.implicits._
        val uw = Tables.events(s, d)
          .select($"user_id",
            floor(datediff(to_date($"ts"), lit("1990-01-01")) / 7).cast("long").as("wk"))
          .distinct()
        val cohort = uw.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
        val sizes = cohort.groupBy($"cohort_wk")
          .agg(count_distinct($"user_id").as("cohort_size"))
        uw.join(cohort, "user_id")
          .withColumn("weeks_since", $"wk" - $"cohort_wk")
          .groupBy($"cohort_wk", $"weeks_since")
          .agg(count_distinct($"user_id").as("n_users"))
          .join(sizes, "cohort_wk")
          .withColumn("retention",
            r4($"n_users".cast("double") / $"cohort_size"))
          .select($"cohort_wk", $"weeks_since", $"n_users", $"cohort_size", $"retention")
          .orderBy($"cohort_wk", $"weeks_since")
      },
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |    CAST(floor(datediff('day', DATE '1990-01-01', CAST(ts AS DATE)) / 7)
             |      AS BIGINT) AS wk
             |  FROM events),
             |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1),
             |sizes AS (SELECT cohort_wk, count(DISTINCT user_id) AS cohort_size
             |          FROM cohort GROUP BY 1),
             |m AS (
             |  SELECT c.cohort_wk, uw.wk - c.cohort_wk AS weeks_since,
             |    count(DISTINCT uw.user_id) AS n_users
             |  FROM uw JOIN cohort c ON uw.user_id = c.user_id
             |  GROUP BY 1, 2)
             |SELECT m.cohort_wk, weeks_since, n_users, cohort_size,
             |  floor(CAST(n_users AS DOUBLE) / cohort_size * 10000 + 0.5) / 10000
             |    AS retention
             |FROM m JOIN sizes ON m.cohort_wk = sizes.cohort_wk
             |ORDER BY m.cohort_wk, weeks_since""".stripMargin)),

    // ----- q99: PageRank over the part co-purchase graph (parts
    // linked when they appear in the same order), 5 fixed power
    // iterations at d = 0.85. The oracle reruns the identical
    // recurrence as five chained CTEs — float constants are cast to
    // DOUBLE so both engines compute (1 − 0.85) in the same IEEE
    // arithmetic. Ranks scaled ×N (mean 1) and r7-rounded.
    QueryDef(
      "q99_pagerank",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey")
        // multigraph pairs are fine here: pageRank's orient() dedups
        val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
        val pr = GraphOps.pageRank(e, "pa", "pb", iterations = 5, damping = 0.85)
        val n = pr.agg(count(lit(1)).as("nn"))
        pr.crossJoin(n)
          .select($"v".as("p_partkey"),
            (floor($"pr" * $"nn" * 1e7 + 0.5) / 1e7).as("pr_scaled"))
          .orderBy($"p_partkey")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS (
             |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
             |  JOIN li b ON a.l_orderkey = b.l_orderkey
             |   AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2),
             |dir AS (SELECT a AS src, b AS dst FROM e0
             |        UNION ALL SELECT b, a FROM e0),
             |deg AS (SELECT src AS v, count(*) AS deg FROM dir GROUP BY 1),
             |nn AS (SELECT count(*) AS n FROM deg),
             |p0 AS (SELECT v, deg, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr
             |       FROM deg),
             |p1 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p0 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p0.pr / p0.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p0 ON dir.src = p0.v GROUP BY 1) s USING (v)),
             |p2 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p1 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p1.pr / p1.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p1 ON dir.src = p1.v GROUP BY 1) s USING (v)),
             |p3 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p2 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p2.pr / p2.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p2 ON dir.src = p2.v GROUP BY 1) s USING (v)),
             |p4 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p3 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p3.pr / p3.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p3 ON dir.src = p3.v GROUP BY 1) s USING (v)),
             |p5 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p4 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p4.pr / p4.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p4 ON dir.src = p4.v GROUP BY 1) s USING (v))
             |SELECT v AS p_partkey,
             |  floor(pr * (SELECT n FROM nn) * 1e7 + 0.5) / 1e7 AS pr_scaled
             |FROM p5 ORDER BY p_partkey""".stripMargin)),

    // ----- q198: label-propagation communities (Raghavan 2007) over
    // the q99 part co-purchase graph — the community-detection member
    // of the graph family (PageRank = centrality, triangles =
    // cohesion, CC = reachability; LPA answers "which parts cluster
    // into purchase neighborhoods"). Synchronous rounds with the
    // deterministic min-label tie-break (GraphOps.labelPropagation);
    // the oracle unrolls all 3 rounds as count/argmax CTE pairs —
    // row_number(ORDER BY c DESC, lbl ASC) = 1 is exactly the Spark
    // side's max(struct(c, −lbl)).
    QueryDef(
      "q198_lpa_communities",
      (s, d) => {
        import s.implicits._
        lpaLabels(s, d)
          .select($"id".as("p_partkey"), $"community")
          .orderBy($"p_partkey")
      },
      Some {
        def round(i: Int): String = {
          val prev = s"l${i - 1}"
          s"""c$i AS (
             |  SELECT CAST(d.dst AS BIGINT) AS id, l.lbl,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM dir d JOIN $prev l ON l.id = d.src GROUP BY 1, 2),
             |l$i AS (
             |  SELECT id, lbl FROM (
             |    SELECT id, lbl,
             |      row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl ASC) AS rn
             |    FROM c$i) t
             |  WHERE rn = 1)""".stripMargin
        }
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2),
           |dir AS (SELECT a AS src, b AS dst FROM e0
           |        UNION ALL SELECT b, a FROM e0),
           |l0 AS (SELECT DISTINCT CAST(src AS BIGINT) AS id,
           |         CAST(src AS BIGINT) AS lbl FROM dir),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT id AS p_partkey, lbl AS community FROM l3
           |ORDER BY p_partkey""".stripMargin
      }),

    // ----- q153: TextRank keyword extraction (Mihalcea & Tarau,
    // EMNLP'04) — PageRank over the word-ADJACENCY graph (consecutive
    // token pairs within a document, window 2), top-20 words by rank:
    // the graph-centrality member of the text-analysis family, and a
    // SECOND consumer of the RDD pageRank loop on a STRING-keyed
    // graph (q99's keys are longs). Adjacency pairs come from a
    // narrow zip of each token array with its own tail — no
    // positional self-join, no window; the orient() distinct is the
    // one edge shuffle, and the node set is vocabulary-sized. The
    // oracle replays the identical 5-iteration quantized recurrence
    // (q99's CTE chain) over positions derived by zip-unnest.
    QueryDef(
      "q153_textrank_keywords",
      (s, d) => {
        import s.implicits._
        val toks = graft.Par.spread(Tables.documents(s, d))
          .select(graft.functions.TextFunctions.spaceTokens($"text").as("toks"))
          .filter(size($"toks") >= 2)
        val edges = toks.select(explode(zip_with(
            slice($"toks", lit(1), size($"toks") - 1),
            slice($"toks", lit(2), size($"toks") - 1),
            (a, b) => struct(a.as("wa"), b.as("wb")))).as("e"))
          .select($"e.wa", $"e.wb").filter($"wa" =!= $"wb")
        val pr = GraphOps.pageRank(edges, "wa", "wb", iterations = 5, damping = 0.85)
        val n = pr.agg(count(lit(1)).as("nn"))
        pr.crossJoin(n)
          .select($"v".as("word"),
            (floor($"pr" * $"nn" * 1e7 + 0.5) / 1e7).as("rank_scaled"))
          .orderBy($"rank_scaled".desc, $"word")
          .limit(20)
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos,
             |    unnest(toks) AS word FROM t),
             |adj AS (
             |  SELECT p1.word AS wa, p2.word AS wb
             |  FROM pos p1 JOIN pos p2
             |    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
             |  WHERE p1.word <> p2.word),
             |e0 AS (
             |  SELECT least(wa, wb) AS a, greatest(wa, wb) AS b
             |  FROM adj GROUP BY 1, 2),
             |dir AS (SELECT a AS src, b AS dst FROM e0
             |        UNION ALL SELECT b, a FROM e0),
             |deg AS (SELECT src AS v, count(*) AS deg FROM dir GROUP BY 1),
             |nn AS (SELECT count(*) AS n FROM deg),
             |p0 AS (SELECT v, deg, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr
             |       FROM deg),
             |p1 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p0 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p0.pr / p0.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p0 ON dir.src = p0.v GROUP BY 1) s USING (v)),
             |p2 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p1 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p1.pr / p1.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p1 ON dir.src = p1.v GROUP BY 1) s USING (v)),
             |p3 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p2 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p2.pr / p2.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p2 ON dir.src = p2.v GROUP BY 1) s USING (v)),
             |p4 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p3 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p3.pr / p3.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p3 ON dir.src = p3.v GROUP BY 1) s USING (v)),
             |p5 AS (SELECT d0.v, d0.deg,
             |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             |      + CAST(0.85 AS DOUBLE) * coalesce(s.m, 0) AS pr
             |  FROM p4 d0 LEFT JOIN (
             |    SELECT dir.dst AS v, CAST(SUM(CAST(floor(p4.pr / p4.deg * 1099511627776) AS BIGINT)) AS DOUBLE) / 1099511627776 AS m
             |    FROM dir JOIN p4 ON dir.src = p4.v GROUP BY 1) s USING (v))
             |SELECT v AS word,
             |  floor(pr * (SELECT n FROM nn) * 1e7 + 0.5) / 1e7 AS rank_scaled
             |FROM p5 ORDER BY rank_scaled DESC, word LIMIT 20""".stripMargin)),

    // ----- q102: grouped linear regression — price-over-time trend
    // per order priority via the SQL-standard regr_* aggregates (one
    // pass, mergeable moment state on both engines). Slope/r² at r4;
    // the intercept (~1e5 magnitude) at r2, inside both engines'
    // merge-order float drift.
    QueryDef(
      "q102_grouped_regression",
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d)
          .withColumn("x", datediff(to_date($"o_orderdate"), lit("1990-01-01"))
            .cast("double"))
        o.groupBy($"o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            r4(regr_slope($"o_totalprice", $"x")).as("slope"),
            (floor(regr_intercept($"o_totalprice", $"x") * 100 + 0.5) / 100)
              .as("intercept"),
            r4(regr_r2($"o_totalprice", $"x")).as("r2"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  floor(regr_slope(o_totalprice, x) * 10000 + 0.5) / 10000 AS slope,
             |  floor(regr_intercept(o_totalprice, x) * 100 + 0.5) / 100 AS intercept,
             |  floor(regr_r2(o_totalprice, x) * 10000 + 0.5) / 10000 AS r2
             |FROM (SELECT o_orderpriority, o_totalprice,
             |  CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
             |    AS DOUBLE) AS x FROM orders)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ----- q144: Zipf-fit corpus diagnostic — OLS slope/R² of
    // ln(freq) over ln(rank) for each language's top-300 words
    // (healthy natural text sits near slope −1; scraped boilerplate
    // and template spam bend the tail — a standard corpus-health
    // signal). row_number with a word tiebreak makes ranks engine-
    // identical; regr_* at r4 is the q102 precedent. The rank window
    // partitions by lang and the rank≤300 filter pushes into
    // WindowGroupLimit (rank-limit pushdown, spec-pinned elsewhere),
    // so no language's full vocabulary crosses the window sort.
    QueryDef(
      "q144_zipf_fit",
      (s, d) => {
        import s.implicits._
        val words = graft.Par.spread(Tables.documents(s, d))
          .select($"lang", explode(
            graft.functions.TextFunctions.spaceTokens($"text")).as("word"))
          .groupBy($"lang", $"word").agg(count(lit(1)).as("n"))
        val rk = row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"lang").orderBy($"n".desc, $"word"))
        words.withColumn("rk", rk).filter($"rk" <= 300)
          .groupBy($"lang")
          .agg(
            count(lit(1)).as("n_words"),
            r4(regr_slope(log($"n".cast("double")),
              log($"rk".cast("double")))).as("zipf_slope"),
            r4(regr_r2(log($"n".cast("double")),
              log($"rk".cast("double")))).as("zipf_r2"))
          .orderBy($"lang")
      },
      Some("""WITH words AS (
             |  SELECT lang, word, count(*) AS n FROM (
             |    SELECT lang, unnest(string_split(text, ' ')) AS word
             |    FROM documents)
             |  WHERE length(word) > 0 GROUP BY lang, word),
             |ranked AS (
             |  SELECT lang, n,
             |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rk
             |  FROM words QUALIFY rk <= 300)
             |SELECT lang, count(*) AS n_words,
             |  floor(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE)))
             |    * 10000 + 0.5) / 10000 AS zipf_slope,
             |  floor(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rk AS DOUBLE)))
             |    * 10000 + 0.5) / 10000 AS zipf_r2
             |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin)),

    // ----- q183: Heaps'-law vocabulary-growth fit — q144 Zipf's
    // companion: V(n) ≈ K·n^β estimated from 10 corpus prefixes
    // (doc_id order). ONE pass derives everything: per-doc token
    // counts give prefix token totals, per-word FIRST-occurrence
    // doc ids give prefix vocabulary sizes (no per-prefix re-scan).
    // The OLS fit runs on r4-snapped lns of exact counts (snapped
    // BIGINT moments, then one double chain — no regr_* aggregate
    // whose accumulation order could differ), so all 10 points and
    // the riding β hash-match.
    QueryDef(
      "q183_heaps_fit",
      (s, d) => {
        import s.implicits._
        val docs = graft.Par.spread(Tables.documents(s, d))
        val toks = docs.select($"doc_id", explode(
            graft.functions.TextFunctions.spaceTokens($"text")).as("w"))
          .transform(graft.operators.Iterate.truncate) // feeds both the tc and first-occ legs
        val tcd = toks.groupBy($"doc_id").agg(count(lit(1)).as("tc"))
        val firstW = toks.groupBy($"w").agg(min($"doc_id").as("fd"))
        val n = docs.count()
        val ranked = graft.operators.GlobalOrder
          .zipRank(docs.select($"doc_id").sort($"doc_id"), "rn")
        val cuts = (1L to 10L).map(m => (m, graft.operators.LogReg.fdiv(m * n, 10L)))
          .toDF("m", "cut_rn")
        val cutIds = cuts.join(ranked, $"cut_rn" === $"rn")
          .select($"m", $"doc_id".as("cut"))
        def lnq(c: org.apache.spark.sql.Column) =
          floor(log(c.cast("double")) * 10000 + lit(0.5)).cast("long")
        val nm = broadcast(cutIds).join(tcd, $"doc_id" <= $"cut")
          .groupBy($"m").agg(sum($"tc").as("n_tokens"))
        val vm = broadcast(cutIds).join(firstW, $"fd" <= $"cut")
          .groupBy($"m").agg(count(lit(1)).as("vocab"))
        val pts = nm.join(vm, "m")
          .select($"m", $"n_tokens", $"vocab",
            lnq($"n_tokens").as("x_q"), lnq($"vocab").as("y_q"))
        val fit = pts.agg(count(lit(1)).as("k"),
          sum($"x_q").as("sx"), sum($"y_q").as("sy"),
          sum($"x_q" * $"x_q").as("sxx"), sum($"x_q" * $"y_q").as("sxy"))
        pts.crossJoin(broadcast(fit))
          .select($"m", $"n_tokens", $"vocab", $"x_q", $"y_q",
            floor(($"k".cast("double") * $"sxy".cast("double")
              - $"sx".cast("double") * $"sy".cast("double"))
              / ($"k".cast("double") * $"sxx".cast("double")
                - $"sx".cast("double") * $"sx".cast("double"))
              * 1000000 + lit(0.5)).cast("long").as("beta_micro"))
          .orderBy($"m")
      },
      Some(s"""WITH docs_r AS (
             |  SELECT doc_id,
             |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn
             |  FROM documents),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |cuts AS (
             |  SELECT CAST(mm.range AS BIGINT) AS m, d.doc_id AS cut
             |  FROM range(1, 11) mm CROSS JOIN nn
             |  JOIN docs_r d
             |    ON d.rn = ${QueryFixtures.fdivSql("mm.range * nn.n", "10")}),
             |toks AS MATERIALIZED (
             |  SELECT doc_id, w FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE length(w) > 0),
             |tcd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tc
             |        FROM toks GROUP BY 1),
             |firstw AS (SELECT w, MIN(doc_id) AS fd FROM toks GROUP BY 1),
             |nm AS (
             |  SELECT c.m, CAST(SUM(t.tc) AS BIGINT) AS n_tokens
             |  FROM cuts c JOIN tcd t ON t.doc_id <= c.cut GROUP BY 1),
             |vm AS (
             |  SELECT c.m, CAST(COUNT(*) AS BIGINT) AS vocab
             |  FROM cuts c JOIN firstw f ON f.fd <= c.cut GROUP BY 1),
             |pts AS (
             |  SELECT m, n_tokens, vocab,
             |    CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 10000 + 0.5)
             |      AS BIGINT) AS x_q,
             |    CAST(floor(ln(CAST(vocab AS DOUBLE)) * 10000 + 0.5)
             |      AS BIGINT) AS y_q
             |  FROM nm JOIN vm USING (m)),
             |fit AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(x_q) AS BIGINT) AS sx, CAST(SUM(y_q) AS BIGINT) AS sy,
             |    CAST(SUM(x_q * x_q) AS BIGINT) AS sxx,
             |    CAST(SUM(x_q * y_q) AS BIGINT) AS sxy
             |  FROM pts)
             |SELECT p.m, p.n_tokens, p.vocab, p.x_q, p.y_q,
             |  CAST(floor(
             |    (CAST(f.k AS DOUBLE) * CAST(f.sxy AS DOUBLE)
             |     - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
             |    / (CAST(f.k AS DOUBLE) * CAST(f.sxx AS DOUBLE)
             |       - CAST(f.sx AS DOUBLE) * CAST(f.sx AS DOUBLE))
             |    * 1000000 + 0.5) AS BIGINT) AS beta_micro
             |FROM pts p, fit f ORDER BY p.m""".stripMargin)),

    // ----- q184: word burstiness — variance-to-mean ratio of
    // per-document counts over ALL docs (zeros included, closed
    // form: VMR = (N·Σc² − (Σc)²)/(N·Σc)) for the top-30 words.
    // VMR ≈ 1 is Poisson scatter (function words); VMR ≫ 1 marks
    // bursty content words — the dispersion diagnostic next to q97
    // PMI and q144 Zipf. Exact integer moments, one double chain.
    QueryDef(
      "q184_burstiness",
      (s, d) => {
        import s.implicits._
        val docs = graft.Par.spread(Tables.documents(s, d))
        val n = docs.count()
        val cnts = docs.select($"doc_id", explode(
            graft.functions.TextFunctions.spaceTokens($"text")).as("w"))
          .groupBy($"w", $"doc_id").agg(count(lit(1)).as("c"))
        val stats = cnts.groupBy($"w").agg(
          sum($"c").as("total"), count(lit(1)).as("doc_freq"),
          sum($"c" * $"c").as("s2"))
        stats.select($"w", $"total", $"doc_freq",
            floor((lit(n).cast("double") * $"s2".cast("double")
              - $"total".cast("double") * $"total".cast("double"))
              / (lit(n).cast("double") * $"total".cast("double"))
              * 1000000 + lit(0.5)).cast("long").as("vmr_micro"))
          .orderBy($"total".desc, $"w").limit(30)
      },
      Some("""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |cnts AS (
             |  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents)
             |  WHERE length(w) > 0 GROUP BY 1, 2),
             |stats AS (
             |  SELECT w, CAST(SUM(c) AS BIGINT) AS total,
             |    CAST(COUNT(*) AS BIGINT) AS doc_freq,
             |    CAST(SUM(c * c) AS BIGINT) AS s2
             |  FROM cnts GROUP BY 1)
             |SELECT w, total, doc_freq,
             |  CAST(floor(
             |    (CAST(nn.n AS DOUBLE) * CAST(s2 AS DOUBLE)
             |     - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
             |    / (CAST(nn.n AS DOUBLE) * CAST(total AS DOUBLE))
             |    * 1000000 + 0.5) AS BIGINT) AS vmr_micro
             |FROM stats, nn
             |ORDER BY total DESC, w LIMIT 30""".stripMargin)),

    // ----- q103: Count-Min heavy hitters — the exact top-20 word
    // counts next to their estimates from the custom mergeable-state
    // Aggregator. FULLY oracle-checked (upgraded from rows-only in
    // round 7, the q140/q154 replay discipline): the CMS hash family
    // is deterministic FNV-1a + affine-mod-p, so DuckDB re-derives
    // every word's d bucket ids in HUGEINT arithmetic, rebuilds each
    // counter as the bucket's Σ count (a CMS counter IS the sum of
    // colliding items' counts), and takes the min — estimate-for-
    // estimate equality, not just the exact columns. The ε·N bound
    // and partitioning invariance stay pinned by CountMinSketchSpec.
    QueryDef(
      "q103_cms_heavy_hitters",
      (s, d) => {
        import s.implicits._
        import graft.functions.CountMinSketch
        val words = graft.Par.spread(Tables.documents(s, d))
          .select(explode(
            graft.functions.TextFunctions.spaceTokens($"text")).as("word"))
        val exact = words.groupBy($"word").agg(count(lit(1)).as("n_exact"))
          .orderBy($"n_exact".desc, $"word").limit(20)
        val sk = words.agg(CountMinSketch.sketch($"word").as("sk"))
        exact.crossJoin(sk)
          .select($"word", $"n_exact",
            CountMinSketch.estimateCol($"sk", $"word").as("n_cms"))
          .orderBy($"n_exact".desc, $"word")
      },
      Some(cmsReplayOracleSql)),

    // ----- q148: sketch-pruned EXACT heavy hitters — bigrams with
    // support ≥ 30 via the CMS prefilter + exact-count-survivors
    // two-phase (operators/HeavyHitters). The overestimate-only
    // sketch keeps a provable superset, the final HAVING restores
    // exactness, so — unlike the estimate-valued q103 — the result is
    // fully oracle-checked against the naive group-having plan.
    QueryDef(
      "q148_sketch_heavy_hitters",
      (s, d) => {
        import s.implicits._
        val grams = graft.Par.spread(Tables.documents(s, d))
          .select(explode(
            graft.operators.Dsir.bigrams($"text")).as("item"))
        graft.operators.HeavyHitters.frequentExact(grams, "item", 30L)
          .orderBy($"n".desc, $"item")
      },
      Some("""WITH t AS (
             |  SELECT list_filter(string_split(text, ' '),
             |                     x -> length(x) > 0) AS tk
             |  FROM documents),
             |g AS (
             |  SELECT unnest(list_transform(range(1, greatest(len(tk), 1)),
             |                               i -> tk[i] || ' ' || tk[i + 1])) AS item
             |  FROM t)
             |SELECT item, count(*) AS n FROM g
             |GROUP BY item HAVING count(*) >= 30
             |ORDER BY n DESC, item""".stripMargin)),

    // ----- q107: Pareto frontier (skyline) of parts — cheapest price
    // vs largest size. Spark runs the two-phase partition-local sweep
    // (dominated rows never cross the network); the oracle is the
    // quadratic NOT EXISTS dominance test.
    QueryDef(
      "q107_skyline",
      (s, d) => {
        import s.implicits._
        graft.operators.Skyline.frontier2d(
          Tables.part(s, d).select($"p_partkey", $"p_retailprice", $"p_size"),
          minCol = "p_retailprice", maxCol = "p_size")
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, p_retailprice, p_size FROM part p
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM part q
             |  WHERE q.p_retailprice <= p.p_retailprice
             |    AND q.p_size >= p.p_size
             |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
             |ORDER BY p_partkey""".stripMargin)),

    // ----- q117: label centroids + inter-class cosine — "how separable
    // are my classes in embedding space", the diagnostic read before
    // trusting embedding-cosine dedup thresholds (q27) or IVF cells
    // (q44). Centroid components and dot-product terms are BOTH
    // quantized to 2^-40 integers (the q99 convention), so every
    // value — centroid, norm, cosine — is bit-identical across
    // engines and partition layouts; the oracle replays the identical
    // integer arithmetic. Plan: one posexplode shuffle to (label,
    // dim), label-sized frames after.
    QueryDef(
      "q117_label_centroids",
      (s, d) => {
        import s.implicits._
        val Q = 1099511627776L      // 2^40
        val dims = Tables.embeddings(s, d)
          .select($"label", posexplode($"embedding"))
          .toDF("label", "pos", "v")
        val cent = dims.groupBy($"label", $"pos")
          .agg(((sum(floor($"v".cast("double") * Q).cast("long")).cast("double") / Q)
            / count(lit(1))).as("c"))
        val pairsTerms = cent.as("a").join(cent.as("b"),
            $"a.pos" === $"b.pos" && $"a.label" < $"b.label")
          .select($"a.label".as("label_a"), $"b.label".as("label_b"),
            floor($"a.c" * $"b.c" * Q).cast("long").as("dot_q"))
        val norms = cent.groupBy($"label")
          .agg((sum(floor($"c" * $"c" * Q).cast("long")).cast("double") / Q).as("n2"))
        pairsTerms.groupBy($"label_a", $"label_b")
          .agg((sum($"dot_q").cast("double") / Q).as("dot"))
          .join(norms.select($"label".as("label_a"), $"n2".as("na")), "label_a")
          .join(norms.select($"label".as("label_b"), $"n2".as("nb")), "label_b")
          .select($"label_a", $"label_b",
            (floor($"dot" / (sqrt($"na") * sqrt($"nb")) * 10000 + 0.5) / 10000)
              .as("cos"))
          .orderBy($"label_a", $"label_b")
      },
      Some("""WITH dims AS (
             |  SELECT label, unnest(embedding) AS v,
             |    unnest(list_transform(range(0, len(embedding)), x -> x)) AS pos
             |  FROM embeddings),
             |cent AS (
             |  SELECT label, pos,
             |    CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1099511627776) AS BIGINT))
             |      AS DOUBLE) / 1099511627776 / count(*) AS c
             |  FROM dims GROUP BY 1, 2),
             |dots AS (
             |  SELECT a.label AS label_a, b.label AS label_b,
             |    CAST(SUM(CAST(floor(a.c * b.c * 1099511627776) AS BIGINT))
             |      AS DOUBLE) / 1099511627776 AS dot
             |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
             |  GROUP BY 1, 2),
             |norms AS (
             |  SELECT label,
             |    CAST(SUM(CAST(floor(c * c * 1099511627776) AS BIGINT))
             |      AS DOUBLE) / 1099511627776 AS n2
             |  FROM cent GROUP BY 1)
             |SELECT label_a, label_b,
             |  floor(dot / (sqrt(na.n2) * sqrt(nb.n2)) * 10000 + 0.5) / 10000 AS cos
             |FROM dots
             |JOIN norms na ON dots.label_a = na.label
             |JOIN norms nb ON dots.label_b = nb.label
             |ORDER BY label_a, label_b""".stripMargin)),

    // ----- q140: HyperLogLog distinct counting — the custom
    // oracle-REPLAYABLE sketch (functions/HyperLogLog), next to the
    // rows-only built-in HLL++ (q35) and CMS (q103): register index,
    // rho ranks, the register-sum/zero-count checksums, and the
    // bias-corrected estimate all recompute in integer-exact SQL, so
    // the oracle hash-matches the sketch's full state per group. The
    // exact count(distinct) rides along to show the error in-band.
    QueryDef(
      "q140_hll_distinct",
      (s, d) => {
        import s.implicits._
        import graft.functions.HyperLogLog
        // distinct FIRST (map-side partial distinct), then sketch the
        // key set: the sketch is idempotent so results are identical
        // to sketching raw rows, but the mixed distinct+non-distinct
        // aggregate's Expand plan (every row replicated per aggregate
        // family, the q35 trap) never happens, and n_exact becomes a
        // plain count. In production you'd skip the exact leg and
        // sketch raw rows in one pass — it exists here to put the
        // sketch error in-band.
        val sk = graft.Par.spread(
            Tables.lineitem(s, d).select($"l_returnflag", $"l_orderkey"))
          .distinct()
          .groupBy($"l_returnflag")
          .agg(
            HyperLogLog.sketch($"l_orderkey").as("regs"),
            count(lit(1)).as("n_exact"))
        sk.select(
            $"l_returnflag",
            $"n_exact",
            HyperLogLog.sumRho($"regs").as("sum_rho"),
            HyperLogLog.vZero($"regs").as("v_zero"),
            HyperLogLog.estimate($"regs").as("est"))
          .orderBy($"l_returnflag")
      },
      Some {
        import graft.functions.HyperLogLog._
        val h = graft.operators.Sampling.hashBitsSql("k")
        s"""WITH keys AS MATERIALIZED (
           |  SELECT DISTINCT l_returnflag AS grp, l_orderkey AS k FROM lineitem),
           |jr AS MATERIALIZED (
           |  SELECT grp, ${jSql("h")} AS j, ${rhoCaseSql(s"(h & $WMask)")} AS rho
           |  FROM (SELECT grp, $h AS h FROM keys)),
           |regs AS MATERIALIZED (
           |  SELECT grp, j, MAX(rho) AS m FROM jr GROUP BY grp, j),
           |st AS MATERIALIZED (
           |  SELECT grp, CAST(SUM(m) AS BIGINT) AS sum_rho, COUNT(*) AS c,
           |    SUM(1.0 / CAST((1::BIGINT << m) AS DOUBLE)) AS sp
           |  FROM regs GROUP BY grp),
           |ne AS (SELECT grp, COUNT(*) AS n_exact FROM keys GROUP BY grp)
           |SELECT st.grp AS l_returnflag, ne.n_exact, st.sum_rho,
           |  CAST($M - st.c AS BIGINT) AS v_zero,
           |  ${estimateSql("st.c", "st.sp")} AS est
           |FROM st JOIN ne ON st.grp = ne.grp
           |ORDER BY l_returnflag""".stripMargin
      }),

    // ----- q145: HLL set algebra — pairwise vocabulary overlap
    // between sources from the REGISTERS alone: union = element-wise
    // max of two sketches, intersection by inclusion–exclusion,
    // Jaccard from the three estimates. The 100 TB point: cross-corpus
    // overlap for all pairs costs ONE scan + |sources|² arithmetic on
    // fixed 4 KB states — never a pairwise corpus join. The exact
    // Jaccard rides along (word-level equi-join, feasible at fixture
    // scale) to show the sketch error in-band; the oracle replays
    // registers, max-merges, and both Jaccards.
    QueryDef(
      "q145_hll_set_algebra",
      (s, d) => {
        import s.implicits._
        import graft.functions.HyperLogLog
        val Srcs = (0 to 5).map(i => s"src$i")
        val vocab = graft.Par.spread(Tables.documents(s, d))
          .filter($"source".isin(Srcs: _*))
          .select($"source", explode(
            graft.functions.TextFunctions.spaceTokens($"text")).as("word"))
          .distinct()
        // word → stable long id (the sketch hashes longs): md5-based,
        // the cross-engine string-hash idiom
        val keyed = vocab.withColumn("wid",
          conv(substring(md5($"word"), 1, 15), 16, 10).cast("long"))
        val sk = keyed.groupBy($"source")
          .agg(HyperLogLog.sketch($"wid").as("regs"),
            count(lit(1)).as("n_vocab"))
        val a = sk.select($"source".as("src_a"), $"regs".as("ra"),
          $"n_vocab".as("na"))
        val b = sk.select($"source".as("src_b"), $"regs".as("rb"),
          $"n_vocab".as("nb"))
        val exact = keyed.select($"source".as("sa"), $"word")
          .join(keyed.select($"source".as("sb"), $"word"), "word")
          .filter($"sa" < $"sb")
          .groupBy($"sa", $"sb").agg(count(lit(1)).as("n_inter"))
        val r4 = graft.functions.TextFunctions.r4 _
        val estA = HyperLogLog.estimate($"ra")
        val estB = HyperLogLog.estimate($"rb")
        val estU = HyperLogLog.estimate(zip_with($"ra", $"rb",
          (x, y) => greatest(x, y)))
        a.join(b, $"src_a" < $"src_b")
          .join(exact, $"src_a" === $"sa" && $"src_b" === $"sb")
          .select($"src_a", $"src_b",
            $"n_inter",
            ($"na" + $"nb" - $"n_inter").as("n_union"),
            r4($"n_inter".cast("double") /
              ($"na" + $"nb" - $"n_inter").cast("double")).as("exact_jacc"),
            r4((estA + estB - estU) / estU).as("sketch_jacc"))
          .orderBy($"src_a", $"src_b")
      },
      Some {
        import graft.functions.HyperLogLog._
        val h = graft.operators.Sampling.hashBitsSql("wid")
        s"""WITH vocab AS MATERIALIZED (
           |  SELECT DISTINCT source, word FROM (
           |    SELECT source, unnest(string_split(text, ' ')) AS word
           |    FROM documents
           |    WHERE source IN ('src0','src1','src2','src3','src4','src5'))
           |  WHERE length(word) > 0),
           |keyed AS MATERIALIZED (
           |  SELECT source, word,
           |    ('0x' || substr(md5(word), 1, 15))::BIGINT AS wid FROM vocab),
           |jr AS MATERIALIZED (
           |  SELECT source, ${jSql("h")} AS j, ${rhoCaseSql(s"(h & $WMask)")} AS rho
           |  FROM (SELECT source, $h AS h FROM keyed)),
           |regs AS MATERIALIZED (
           |  SELECT source, j, MAX(rho) AS m FROM jr GROUP BY source, j),
           |sizes AS (SELECT source, COUNT(*) AS nv FROM vocab GROUP BY source),
           |singles AS MATERIALIZED (
           |  SELECT source, COUNT(*) AS c,
           |    SUM(1.0 / CAST((1::BIGINT << m) AS DOUBLE)) AS sp
           |  FROM regs GROUP BY source),
           |uni AS MATERIALIZED (
           |  SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS c,
           |    SUM(1.0 / CAST((1::BIGINT << GREATEST(
           |      COALESCE(rx.m, 0), COALESCE(ry.m, 0))) AS DOUBLE)) AS sp
           |  FROM (SELECT DISTINCT source FROM vocab) x
           |  JOIN (SELECT DISTINCT source FROM vocab) y ON x.source < y.source
           |  CROSS JOIN range($M) r(j)
           |  LEFT JOIN regs rx ON rx.source = x.source AND rx.j = r.j
           |  LEFT JOIN regs ry ON ry.source = y.source AND ry.j = r.j
           |  WHERE COALESCE(rx.m, 0) > 0 OR COALESCE(ry.m, 0) > 0
           |  GROUP BY x.source, y.source),
           |inter AS (
           |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
           |  FROM vocab a JOIN vocab b ON a.word = b.word AND a.source < b.source
           |  GROUP BY a.source, b.source)
           |SELECT i.src_a, i.src_b, i.n_inter,
           |  CAST(sa.nv + sb.nv - i.n_inter AS BIGINT) AS n_union,
           |  floor(CAST(i.n_inter AS DOUBLE)
           |    / CAST(sa.nv + sb.nv - i.n_inter AS DOUBLE)
           |    * 10000 + 0.5) / 10000 AS exact_jacc,
           |  floor(((${estimateSql("ea.c", "ea.sp")})
           |       + (${estimateSql("eb.c", "eb.sp")})
           |       - (${estimateSql("u.c", "u.sp")}))
           |    / (${estimateSql("u.c", "u.sp")})
           |    * 10000 + 0.5) / 10000 AS sketch_jacc
           |FROM inter i
           |JOIN sizes sa ON sa.source = i.src_a
           |JOIN sizes sb ON sb.source = i.src_b
           |JOIN singles ea ON ea.source = i.src_a
           |JOIN singles eb ON eb.source = i.src_b
           |JOIN uni u ON u.src_a = i.src_a AND u.src_b = i.src_b
           |ORDER BY i.src_a, i.src_b""".stripMargin
      }),

    // ----- q165: Kaplan–Meier churn survival (operators.Survival) —
    // per-user first→last activity spans, right-censoring inside the
    // 14-day tail, risk sets by a REVERSE GlobalOrder.runningSum and
    // the survival product as exact BIGINT sums of r4-snapped per-
    // factor logs (one ln per distinct duration, one exp per row —
    // the q96/q164 libm discipline). The oracle rebuilds the entire
    // curve with plain window sums over the identical rationals.
    QueryDef(
      "q165_kaplan_meier",
      (s, d) => {
        graft.operators.Survival
          .kaplanMeier(Tables.events(s, d), "user_id", "ts")
      },
      Some(s"""WITH pu AS (
             |  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
             |    MAX(CAST(ts AS DATE)) AS ld
             |  FROM events GROUP BY 1),
             |hz AS (SELECT MAX(ld) AS endd FROM pu),
             |lif AS (
             |  SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS t,
             |    CASE WHEN date_diff('day', ld, endd)
             |      > ${graft.operators.Survival.CensorDays}
             |      THEN 1 ELSE 0 END AS ev
             |  FROM pu, hz),
             |byt AS (
             |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             |    CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
             |  FROM lif GROUP BY t),
             |risk AS (
             |  SELECT t, d, c,
             |    CAST(SUM(d + c) OVER (ORDER BY t DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS n_risk
             |  FROM byt),
             |fac AS (
             |  SELECT t, d, c, n_risk,
             |    CASE WHEN d < n_risk THEN
             |      CAST(floor(ln(CAST(n_risk - d AS DOUBLE)
             |        / CAST(n_risk AS DOUBLE)) * 10000 + 0.5) AS BIGINT)
             |    ELSE NULL END AS lnq
             |  FROM risk),
             |cum AS (
             |  SELECT t, d, c, n_risk,
             |    CAST(SUM(lnq) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS lnq_cum
             |  FROM fac)
             |SELECT t AS t_day, n_risk, d, c, lnq_cum,
             |  CASE WHEN d = n_risk THEN 0
             |    ELSE CAST(floor(exp(CAST(lnq_cum AS DOUBLE) / 10000.0)
             |      * 1000 + 0.5) AS BIGINT) END AS surv_milli
             |FROM cum ORDER BY t_day""".stripMargin)),

    // ----- q270: Nelson–Aalen cumulative hazard + Fleming–Harrington
    // survival over the SAME churn lifetable as q165 (operators
    // .Survival.nelsonAalen) — the estimator pair recommended over KM
    // when risk sets get small. Unlike KM (one ln per time point),
    // every hazard increment is EXACT integer fdiv(d·1e6, n) algebra;
    // the only libm call is the final exp(−H), milli-snapped. The
    // oracle rebuilds the identical lifetable and integer sums.
    QueryDef(
      "q270_nelson_aalen",
      (s, d) => {
        graft.operators.Survival
          .nelsonAalen(Tables.events(s, d), "user_id", "ts")
      },
      Some(s"""WITH pu AS (
             |  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
             |    MAX(CAST(ts AS DATE)) AS ld
             |  FROM events GROUP BY 1),
             |hz AS (SELECT MAX(ld) AS endd FROM pu),
             |lif AS (
             |  SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS t,
             |    CASE WHEN date_diff('day', ld, endd)
             |      > ${graft.operators.Survival.CensorDays}
             |      THEN 1 ELSE 0 END AS ev
             |  FROM pu, hz),
             |byt AS (
             |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             |    CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
             |  FROM lif GROUP BY t),
             |risk AS (
             |  SELECT t, d, c,
             |    CAST(SUM(d + c) OVER (ORDER BY t DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS n_risk
             |  FROM byt),
             |hz2 AS (
             |  SELECT t, n_risk, d, c,
             |    CAST((CAST(d AS BIGINT) * 1000000) // n_risk
             |      AS BIGINT) AS h_micro
             |  FROM risk),
             |cum AS (
             |  SELECT t, n_risk, d, c, h_micro,
             |    CAST(SUM(h_micro) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS hazard_cum_micro
             |  FROM hz2)
             |SELECT t AS t_day, n_risk, d, c, h_micro, hazard_cum_micro,
             |  CAST(floor(exp(CAST(hazard_cum_micro AS DOUBLE) / -1000000.0)
             |    * 1000 + 0.5) AS BIGINT) AS fh_surv_milli
             |FROM cum ORDER BY t_day""".stripMargin)),

    // ----- q312: restricted mean survival time over the q165 KM
    // curve (operators.Survival.rmst) — RMST(τ) = ∫₀^τ S(t)dt, the
    // summary number survival texts recommend when medians are
    // censoring-unstable: "mean days retained within the first τ"
    // at τ ∈ {7,14,30,60}. The KM step curve is exact after its one
    // snapped exp per point, so the integral is a PURE integer sum
    // of surv_milli · clipped-segment-length — zero added tolerance.
    // Segment bounds by zipRank shift-join (no global window); the
    // oracle integrates the identical q165 CTE curve with lead().
    QueryDef(
      "q312_rmst",
      (s, d) => graft.operators.Survival
        .rmst(Tables.events(s, d), "user_id", "ts", Seq(7L, 14L, 30L, 60L)),
      Some(s"""WITH pu AS (
             |  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
             |    MAX(CAST(ts AS DATE)) AS ld
             |  FROM events GROUP BY 1),
             |hz AS (SELECT MAX(ld) AS endd FROM pu),
             |lif AS (
             |  SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS t,
             |    CASE WHEN date_diff('day', ld, endd)
             |      > ${graft.operators.Survival.CensorDays}
             |      THEN 1 ELSE 0 END AS ev
             |  FROM pu, hz),
             |byt AS (
             |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             |    CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
             |  FROM lif GROUP BY t),
             |risk AS (
             |  SELECT t, d, c,
             |    CAST(SUM(d + c) OVER (ORDER BY t DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS n_risk
             |  FROM byt),
             |fac AS (
             |  SELECT t, d, n_risk,
             |    CASE WHEN d < n_risk THEN
             |      CAST(floor(ln(CAST(n_risk - d AS DOUBLE)
             |        / CAST(n_risk AS DOUBLE)) * 10000 + 0.5) AS BIGINT)
             |    ELSE NULL END AS lnq
             |  FROM risk),
             |cum AS (
             |  SELECT t, d, n_risk,
             |    CAST(SUM(lnq) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS lnq_cum
             |  FROM fac),
             |kmf AS (
             |  SELECT t,
             |    CASE WHEN d = n_risk THEN 0
             |      ELSE CAST(floor(exp(CAST(lnq_cum AS DOUBLE) / 10000.0)
             |        * 1000 + 0.5) AS BIGINT) END AS sv
             |  FROM cum),
             |segs AS (
             |  SELECT t AS t0, lead(t) OVER (ORDER BY t) AS t1, sv FROM kmf
             |  UNION ALL
             |  SELECT 0, (SELECT MIN(t) FROM kmf), 1000),
             |taus(tau) AS (VALUES (7::BIGINT), (14::BIGINT),
             |  (30::BIGINT), (60::BIGINT))
             |SELECT tau,
             |  CAST(SUM(sv * (LEAST(COALESCE(t1, tau), tau)
             |    - LEAST(t0, tau))) AS BIGINT) AS rmst_milli
             |FROM segs CROSS JOIN taus GROUP BY tau
             |ORDER BY tau""".stripMargin)),

    // ----- q322: Weibull survival fit by the ln(−ln S) probability
    // plot — the PARAMETRIC member next to q165's nonparametric KM
    // and q276's semi-parametric Cox: regress ln(−ln S(t)) on ln t
    // over the interior KM points (0 < S < 1, t ≥ 1); the slope IS
    // the Weibull shape k (k < 1 ⇒ churn hazard falls with tenure),
    // and −β₀/β₁ recovers ln λ. Both logs are r4-snapped per point
    // (the q165 libm discipline), moments then EXACT integer sums,
    // shape/scale ONE double chain each, NULL on degenerate frames.
    QueryDef(
      "q322_weibull_fit",
      (s, d) => {
        import s.implicits._
        val km = graft.operators.Survival
          .kaplanMeier(Tables.events(s, d), "user_id", "ts")
        val pts = km
          .filter($"surv_milli" > 0 && $"surv_milli" < 1000 && $"t_day" >= 1)
          .select(
            floor(log($"t_day".cast("double")) * 10000 + lit(0.5))
              .cast("long").as("lx"),
            floor(log(lit(0.0)
                - log($"surv_milli".cast("double") / lit(1000.0)))
              * 10000 + lit(0.5)).cast("long").as("ly"))
        val mo = pts.agg(count(lit(1)).as("n"),
          sum($"lx").as("sx"), sum($"ly").as("sy"),
          sum($"lx" * $"lx").as("sxx"), sum($"lx" * $"ly").as("sxy"))
        def db(c: org.apache.spark.sql.Column) = c.cast("double")
        val den = db($"n") * db($"sxx") - db($"sx") * db($"sx")
        val b1 = (db($"n") * db($"sxy") - db($"sx") * db($"sy")) / den
        val bad = $"n" < 2 || den === 0.0
        mo.select($"n".as("n_pts"),
          when(bad, lit(null).cast("long"))
            .otherwise(floor(b1 * 1000000 + lit(0.5)).cast("long"))
            .as("shape_micro"),
          when(bad || b1 === 0.0, lit(null).cast("long"))
            .otherwise(floor((lit(0.0)
                - (db($"sy") / db($"n") - b1 * (db($"sx") / db($"n"))) / b1)
              * 100.0 + lit(0.5)).cast("long"))
            .as("lnlam_micro"))
      },
      Some(s"""WITH pu AS (
             |  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
             |    MAX(CAST(ts AS DATE)) AS ld
             |  FROM events GROUP BY 1),
             |hz AS (SELECT MAX(ld) AS endd FROM pu),
             |lif AS (
             |  SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS t,
             |    CASE WHEN date_diff('day', ld, endd)
             |      > ${graft.operators.Survival.CensorDays}
             |      THEN 1 ELSE 0 END AS ev
             |  FROM pu, hz),
             |byt AS (
             |  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             |    CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
             |  FROM lif GROUP BY t),
             |risk AS (
             |  SELECT t, d, c,
             |    CAST(SUM(d + c) OVER (ORDER BY t DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS n_risk
             |  FROM byt),
             |fac AS (
             |  SELECT t, d, n_risk,
             |    CASE WHEN d < n_risk THEN
             |      CAST(floor(ln(CAST(n_risk - d AS DOUBLE)
             |        / CAST(n_risk AS DOUBLE)) * 10000 + 0.5) AS BIGINT)
             |    ELSE NULL END AS lnq
             |  FROM risk),
             |cum AS (
             |  SELECT t, d, n_risk,
             |    CAST(SUM(lnq) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS lnq_cum
             |  FROM fac),
             |kmf AS (
             |  SELECT t,
             |    CASE WHEN d = n_risk THEN 0
             |      ELSE CAST(floor(exp(CAST(lnq_cum AS DOUBLE) / 10000.0)
             |        * 1000 + 0.5) AS BIGINT) END AS sv
             |  FROM cum),
             |pts AS (
             |  SELECT
             |    CAST(floor(ln(CAST(t AS DOUBLE)) * 10000 + 0.5)
             |      AS BIGINT) AS lx,
             |    CAST(floor(ln(0.0 - ln(CAST(sv AS DOUBLE) / 1000.0))
             |      * 10000 + 0.5) AS BIGINT) AS ly
             |  FROM kmf WHERE sv > 0 AND sv < 1000 AND t >= 1),
             |mo AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(lx) AS BIGINT) AS sx,
             |    CAST(SUM(ly) AS BIGINT) AS sy,
             |    CAST(SUM(lx * lx) AS BIGINT) AS sxx,
             |    CAST(SUM(lx * ly) AS BIGINT) AS sxy
             |  FROM pts),
             |ch AS (
             |  SELECT n,
             |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b1,
             |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             |    CAST(n AS DOUBLE) AS nd
             |  FROM mo)
             |SELECT n AS n_pts,
             |  CASE WHEN n < 2 OR den = 0.0 THEN NULL
             |    ELSE CAST(floor(b1 * 1000000 + 0.5) AS BIGINT)
             |    END AS shape_micro,
             |  CASE WHEN n < 2 OR den = 0.0 OR b1 = 0.0 THEN NULL
             |    ELSE CAST(floor((0.0 - (syd / nd - b1 * (sxd / nd)) / b1)
             |      * 100.0 + 0.5) AS BIGINT) END AS lnlam_micro
             |FROM ch""".stripMargin)),

    // ----- q319: eigenvector centrality (normalized power method)
    // on the thinned co-purchase graph — the PRESTIGE axis
    // completing the centrality family: q99 PageRank (damped,
    // degree-split), q290 Katz (attenuated walk volume, +1 floor),
    // q210 HITS (bipartite hubs/authorities). Four rounds of
    // x ← A·x, L1-renormalized to mean 1 each round (sum-norm — no
    // sqrt, no libm); 2^-30-quantized cross-node sums keep the
    // global normalizer exactly castable on both engines (headroom
    // documented in the operator). The oracle unrolls the identical
    // recurrence.
    QueryDef(
      "q319_eigenvector_centrality",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
        GraphOps.eigenvectorCentrality(e, "pa", "pb", iterations = 4)
          .select($"id".as("p_partkey"),
            floor($"eig" * 1e6 + lit(0.5)).cast("long").as("eig_micro"))
          .orderBy($"p_partkey")
      },
      Some {
        val Q = 1073741824L
        def round(i: Int): String =
          s"""c$i AS MATERIALIZED (
             |  SELECT CAST(d.dst AS BIGINT) AS v,
             |    CAST(SUM(CAST(floor(x.x * $Q) AS BIGINT)) AS BIGINT) AS c
             |  FROM dir d JOIN x${i - 1} x ON d.src = x.v GROUP BY 1),
             |s$i AS (SELECT SUM(CAST(c AS HUGEINT)) AS s FROM c$i),
             |x$i AS (
             |  SELECT c$i.v,
             |    CAST(c$i.c AS DOUBLE) / CAST(s$i.s AS DOUBLE)
             |      * CAST(nodes.nn AS DOUBLE) AS x
             |  FROM c$i CROSS JOIN s$i CROSS JOIN nodes)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |        UNION ALL SELECT b, a FROM e0),
           |nodes AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS nn
           |          FROM dir),
           |x0 AS (SELECT DISTINCT CAST(src AS BIGINT) AS v,
           |         CAST(1.0 AS DOUBLE) AS x FROM dir),
           |${(1 to 4).map(round).mkString(",\n")}
           |SELECT v AS p_partkey,
           |  CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS eig_micro
           |FROM x4 ORDER BY p_partkey""".stripMargin
      }),

    // ----- q320: per-node local clustering coefficient on the
    // thinned co-purchase graph — the NODE-grain refinement of
    // q77's single global coefficient: cc(v) = 2·T(v)/(deg(v)·
    // (deg(v)−1)) with triangles-at-v counted by an orientation-free
    // wedge-closure join (each unordered neighbor pair checked
    // against the normalized edge set once), so the oracle replays
    // the identical enumeration. cc is an exact integer ppm
    // division; deg < 2 rows are NULL. "Which parts sit in locally
    // dense co-purchase pockets" — the micro-cohesion signal q249's
    // rich-club reads only at the hub tail.
    QueryDef(
      "q320_local_clustering",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
        GraphOps.localClustering(e, "pa", "pb")
          .select($"id".as("p_partkey"), $"deg", $"n_tri", $"cc_ppm")
          .orderBy($"p_partkey")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS (
             |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
             |  JOIN li b ON a.l_orderkey = b.l_orderkey
             |   AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
             |        UNION ALL SELECT b, a FROM e0),
             |deg AS (SELECT CAST(src AS BIGINT) AS v,
             |    CAST(COUNT(*) AS BIGINT) AS deg
             |  FROM dir GROUP BY 1),
             |tri AS (
             |  SELECT CAST(n1.src AS BIGINT) AS v,
             |    CAST(COUNT(*) AS BIGINT) AS n_tri
             |  FROM dir n1
             |  JOIN dir n2 ON n1.src = n2.src AND n1.dst < n2.dst
             |  JOIN e0 t ON t.a = n1.dst AND t.b = n2.dst
             |  GROUP BY 1)
             |SELECT d.v AS p_partkey, d.deg,
             |  COALESCE(t.n_tri, 0) AS n_tri,
             |  CASE WHEN d.deg < 2 THEN NULL
             |    ELSE 2 * COALESCE(t.n_tri, 0) * 1000000
             |      // (d.deg * (d.deg - 1)) END AS cc_ppm
             |FROM deg d LEFT JOIN tri t ON t.v = d.v
             |ORDER BY p_partkey""".stripMargin)),

    // ----- q209: k-core decomposition (Seidman 1983) of the THINNED
    // co-purchase graph (parts linked only when they share ≥2 distinct
    // orders — the ≥2 support floor is what leaves a sparse graph
    // whose 2-core is non-trivial; the raw graph's min degree is ~8 at
    // sf0.01 so nothing would peel). The reachability/centrality/
    // cohesion/community graph family's density member: "which parts
    // sit in a repeatedly-co-bought backbone?". Fixed 12 peel rounds —
    // idempotent at fixpoint (fixtures converge in ≤6 at both SFs), so
    // the oracle replays the identical recurrence as 12 unrolled CTE
    // rounds. Output = core members with their in-core degree.
    QueryDef(
      "q209_kcore",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
        GraphOps.kCore(e, "pa", "pb", k = 2, rounds = 12)
          .select($"id".as("p_partkey"), $"core_deg")
          .orderBy($"p_partkey")
      },
      Some {
        // every round references its predecessor TWICE — without
        // MATERIALIZED, DuckDB's CTE inlining makes the expansion
        // 2^12 copies of the base self-join (observed: fd exhaustion
        // re-opening lineitem.parquet)
        def peel(i: Int): String =
          s"""s$i AS MATERIALIZED (
             |  SELECT t.v FROM (
             |    SELECT CAST(d.dst AS BIGINT) AS v, count(*) AS c
             |    FROM dir d JOIN s${i - 1} a ON d.src = a.v GROUP BY 1) t
             |  JOIN s${i - 1} b ON t.v = b.v
             |  WHERE t.c >= 2)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |        UNION ALL SELECT b, a FROM e0),
           |s0 AS MATERIALIZED (SELECT DISTINCT CAST(src AS BIGINT) AS v FROM dir),
           |${(1 to 12).map(peel).mkString(",\n")}
           |SELECT t.v AS p_partkey, CAST(t.c AS BIGINT) AS core_deg FROM (
           |  SELECT CAST(d.dst AS BIGINT) AS v, count(*) AS c
           |  FROM dir d JOIN s12 a ON d.src = a.v GROUP BY 1) t
           |JOIN s12 b ON t.v = b.v
           |WHERE t.c >= 2
           |ORDER BY p_partkey""".stripMargin
      }),

    // ----- q210: HITS hubs & authorities (Kleinberg 1999) over the
    // DIRECTED customer→part purchase bipartite graph — the directed-
    // graph member the family lacks (PageRank's symmetric walk can't
    // separate "buys broadly" from "bought broadly"; HITS scores both
    // sides of the bipartite structure at once). 3 fixed iterations of
    // the mutual-reinforcement recurrence, every cross-node sum
    // quantized to 2^-40 (the q99 contract); the oracle unrolls all
    // six half-steps with their normalizers. Scores scaled ×(side
    // count) to mean 1 and micro-snapped.
    QueryDef(
      "q210_hits",
      (s, d) => {
        import s.implicits._
        val e = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
          .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey"),
            $"o_orderkey" === $"l_orderkey")
          .select($"o_custkey".as("src"), $"l_partkey".as("dst"))
        val res = GraphOps.hits(e, "src", "dst", iterations = 3)
        val cnt = res.groupBy($"side").agg(count(lit(1)).as("nn"))
        res.join(cnt, "side")
          .select($"side", $"id",
            floor($"val" * $"nn" * 1e6 + lit(0.5)).cast("long")
              .as("score_micro"))
          .orderBy($"side", $"id")
      },
      Some {
        val Q = 1099511627776L
        def half(i: Int): String =
          s"""a${i}r AS MATERIALIZED (
             |  SELECT CAST(d.dst AS BIGINT) AS id,
             |    CAST(SUM(CAST(floor(h.val * $Q) AS BIGINT)) AS DOUBLE)
             |      / $Q AS raw
             |  FROM dir d JOIN h${i - 1} h ON d.src = h.id GROUP BY 1),
             |a${i}s AS (SELECT CAST(SUM(CAST(floor(raw * $Q) AS BIGINT))
             |             AS DOUBLE) / $Q AS s FROM a${i}r),
             |a$i AS (SELECT id, raw / (SELECT s FROM a${i}s) AS val
             |        FROM a${i}r),
             |h${i}r AS MATERIALIZED (
             |  SELECT CAST(d.src AS BIGINT) AS id,
             |    CAST(SUM(CAST(floor(a.val * $Q) AS BIGINT)) AS DOUBLE)
             |      / $Q AS raw
             |  FROM dir d JOIN a$i a ON d.dst = a.id GROUP BY 1),
             |h${i}s AS (SELECT CAST(SUM(CAST(floor(raw * $Q) AS BIGINT))
             |             AS DOUBLE) / $Q AS s FROM h${i}r),
             |h$i AS (SELECT id, raw / (SELECT s FROM h${i}s) AS val
             |        FROM h${i}r)""".stripMargin
        s"""WITH dir AS MATERIALIZED (
           |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
           |    CAST(l_partkey AS BIGINT) AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |h0 AS (
           |  SELECT DISTINCT src AS id,
           |    CAST(1 AS DOUBLE) / (SELECT count(DISTINCT src) FROM dir)
           |      AS val
           |  FROM dir),
           |${(1 to 3).map(half).mkString(",\n")}
           |SELECT 'hub' AS side, id,
           |  CAST(floor(val * (SELECT count(*) FROM h3) * 1000000 + 0.5)
           |    AS BIGINT) AS score_micro
           |FROM h3
           |UNION ALL
           |SELECT 'auth' AS side, id,
           |  CAST(floor(val * (SELECT count(*) FROM a3) * 1000000 + 0.5)
           |    AS BIGINT) AS score_micro
           |FROM a3
           |ORDER BY side, id""".stripMargin
      }),

    // ----- q218: two-group log-rank test (Mantel 1966) on the q165
    // churn lifetimes — "do even- and odd-id users churn at the same
    // rate?", the hypothesis-test companion the KM curve needs before
    // anyone reads a gap off it. Per-time expectation/variance terms
    // are single fixed double expressions snapped to 2^-30 and summed
    // as exact BIGINTs (order-free); risk sets are the same reverse
    // two-pass running sums as q165. One row out.
    QueryDef(
      "q218_logrank",
      (s, d) => graft.operators.Survival
        .logRank(Tables.events(s, d), "user_id", "ts"),
      Some {
        val q = graft.operators.Survival.LrQ
        val cd = graft.operators.Survival.CensorDays
        s"""WITH pu AS (
           |  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
           |    MAX(CAST(ts AS DATE)) AS ld,
           |    CAST(user_id % 2 AS BIGINT) AS grp
           |  FROM events GROUP BY user_id),
           |hz AS (SELECT MAX(ld) AS endd FROM pu),
           |lif AS (
           |  SELECT grp, CAST(date_diff('day', fd, ld) AS BIGINT) AS t,
           |    CASE WHEN date_diff('day', ld, endd) > $cd
           |      THEN 1 ELSE 0 END AS ev
           |  FROM pu, hz),
           |byt AS (
           |  SELECT t,
           |    CAST(SUM(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
           |    CAST(SUM(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
           |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
           |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u0
           |  FROM lif GROUP BY t),
           |risk AS (
           |  SELECT t, d1, d0,
           |    CAST(SUM(u1) OVER (ORDER BY t DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS n1,
           |    CAST(SUM(u0) OVER (ORDER BY t DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS n0
           |  FROM byt),
           |terms AS (
           |  SELECT d1,
           |    CAST(floor(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0) * $q)
           |      AS BIGINT) AS e1q,
           |    CASE WHEN n1 + n0 > 1 THEN
           |      CAST(floor(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0)
           |        * n0 / (n1 + n0) * ((n1 + n0) - (d1 + d0))
           |        / ((n1 + n0) - 1) * $q) AS BIGINT)
           |    ELSE 0 END AS vq
           |  FROM risk WHERE d1 + d0 > 0),
           |grpn AS (SELECT
           |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n1_users,
           |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n0_users
           |  FROM pu),
           |agg AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           |    CAST(SUM(e1q) AS BIGINT) AS se,
           |    CAST(SUM(vq) AS BIGINT) AS sv
           |  FROM terms)
           |SELECT n1_users, n0_users, o1,
           |  CAST(se * 1000 // $q AS BIGINT) AS e1_milli,
           |  CAST(sv * 1000 // $q AS BIGINT) AS v_milli,
           |  CAST(floor(CAST(o1 * $q - se AS DOUBLE)
           |    * CAST(o1 * $q - se AS DOUBLE)
           |    / (CAST(sv AS DOUBLE) * $q) * 1000000 + 0.5) AS BIGINT)
           |    AS chi2_micro
           |FROM grpn CROSS JOIN agg""".stripMargin
      }),

    // ----- q276: Cox proportional hazards (binary covariate, Breslow
    // ties, 3 Newton iterations — operators.Survival.coxBinary) on
    // the q218 churn cohorts: the EFFECT-SIZE companion to the
    // log-rank test — hazard ratio e^β with a standard error, not
    // just a p-value. β in exact micro units, one libm exp per
    // iteration, every score/information term 2^-30-snapped before
    // exact BIGINT sums, so the full Newton trajectory replays as
    // unrolled oracle CTEs (the q128/q175/q274 training-replay
    // discipline applied to survival regression).
    QueryDef(
      "q276_cox_hazard",
      (s, d) => graft.operators.Survival
        .coxBinary(Tables.events(s, d), "user_id", "ts"),
      Some {
        val q = graft.operators.Survival.LrQ
        val cd = graft.operators.Survival.CensorDays
        def ebSql(bRef: String) = s"exp(CAST($bRef AS DOUBLE) / 1000000.0)"
        def iter(k: Int): String = {
          val p = k - 1
          s"""p$k AS (
             |  SELECT s.d1, s.d0, i.b,
             |    CAST(s.n1 AS DOUBLE) * ${ebSql("i.b")}
             |      / (CAST(s.n0 AS DOUBLE)
             |         + CAST(s.n1 AS DOUBLE) * ${ebSql("i.b")}) AS p
             |  FROM ts s CROSS JOIN it$p i),
             |su$k AS (
             |  SELECT ANY_VALUE(b) AS b,
             |    CAST(SUM(CAST(floor((CAST(d1 AS DOUBLE)
             |      - CAST(d1 + d0 AS DOUBLE) * p) * $q + 0.5) AS BIGINT))
             |      AS BIGINT) AS su,
             |    CAST(SUM(CAST(floor(CAST(d1 + d0 AS DOUBLE) * p * (1.0 - p)
             |      * $q + 0.5) AS BIGINT)) AS BIGINT) AS si
             |  FROM p$k),
             |it$k AS (
             |  SELECT b + CASE WHEN si = 0 THEN 0
             |    ELSE CAST(floor(CAST(su AS DOUBLE) / CAST(si AS DOUBLE)
             |      * 1000000.0 + 0.5) AS BIGINT) END AS b
             |  FROM su$k)""".stripMargin
        }
        s"""WITH pu AS (
           |  SELECT user_id, MIN(CAST(ts AS DATE)) AS fd,
           |    MAX(CAST(ts AS DATE)) AS ld,
           |    CAST(user_id % 2 AS BIGINT) AS grp
           |  FROM events GROUP BY user_id),
           |hz AS (SELECT MAX(ld) AS endd FROM pu),
           |lif AS (
           |  SELECT grp, CAST(date_diff('day', fd, ld) AS BIGINT) AS t,
           |    CASE WHEN date_diff('day', ld, endd) > $cd
           |      THEN 1 ELSE 0 END AS ev
           |  FROM pu, hz),
           |byt AS (
           |  SELECT t,
           |    CAST(SUM(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
           |    CAST(SUM(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
           |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
           |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS u0
           |  FROM lif GROUP BY t),
           |risk AS (
           |  SELECT t, d1, d0,
           |    CAST(SUM(u1) OVER (ORDER BY t DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS n1,
           |    CAST(SUM(u0) OVER (ORDER BY t DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS n0
           |  FROM byt),
           |ts AS MATERIALIZED (
           |  SELECT d1, d0, n1, n0 FROM risk WHERE d1 + d0 > 0),
           |it0 AS (SELECT 0::BIGINT AS b),
           |${(1 to 3).map(iter).mkString(",\n")},
           |fin AS (
           |  SELECT s.d1, s.d0, i.b,
           |    CAST(s.n1 AS DOUBLE) * ${ebSql("i.b")}
           |      / (CAST(s.n0 AS DOUBLE)
           |         + CAST(s.n1 AS DOUBLE) * ${ebSql("i.b")}) AS p
           |  FROM ts s CROSS JOIN it3 i),
           |fa AS (
           |  SELECT ANY_VALUE(b) AS b, CAST(SUM(d1) AS BIGINT) AS o1,
           |    CAST(SUM(CAST(floor(CAST(d1 + d0 AS DOUBLE) * p * (1.0 - p)
           |      * $q + 0.5) AS BIGINT)) AS BIGINT) AS sif
           |  FROM fin),
           |grpn AS (SELECT
           |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n1_users,
           |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n0_users
           |  FROM lif)
           |SELECT n1_users, n0_users, o1, b AS beta_micro,
           |  CAST(floor(${ebSql("b")} * 1000000.0 + 0.5) AS BIGINT)
           |    AS hr_micro,
           |  CASE WHEN sif IS NULL OR sif = 0 THEN NULL
           |    ELSE CAST(floor(1000000.0 / sqrt(CAST(sif AS DOUBLE) / $q)
           |      + 0.5) AS BIGINT) END AS se_micro
           |FROM grpn CROSS JOIN fa""".stripMargin
      }),

    // ----- q232: neighborhood link prediction (Liben-Nowell & Kleinberg
    // 2003) on the q209 thinned co-purchase graph — "which unlinked
    // part pairs are most likely to co-sell next": common-neighbor
    // count, Adamic-Adar (Σ 1/ln deg(z) over shared neighbors z, each
    // ln micro-snapped immediately — the q96/q165 libm discipline —
    // then exact BIGINT sums), and neighborhood Jaccard, for candidate
    // pairs sharing ≥2 neighbors with no existing edge. One wedge join
    // (Σ_z deg(z)² on the THINNED graph — the ≥2-support floor is what
    // keeps the wedge volume anti-quadratic), top-100 by score with a
    // total (aa, cn, pa, pb) tie-break.
    QueryDef(
      "q232_link_prediction",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e0 = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
          .transform(graft.operators.Iterate.truncate)   // feeds dir twice + the anti-join
        val dir = e0.select($"pa".as("src"), $"pb".as("dst"))
          .unionAll(e0.select($"pb".as("src"), $"pa".as("dst")))
        val deg = dir.groupBy($"src").agg(count(lit(1)).as("deg"))
          .withColumnRenamed("src", "v")
        val wedges = dir.as("x").join(dir.as("y"),
            $"x.src" === $"y.src" && $"x.dst" < $"y.dst")
          .select($"x.src".as("z"), $"x.dst".as("a"), $"y.dst".as("b"))
        val scoredPairs = wedges
          .join(deg.select($"v".as("z"), $"deg".as("degz")), "z")
          .groupBy($"a", $"b")
          .agg(count(lit(1)).as("cn"),
            sum(floor(lit(1000000.0) / log($"degz".cast("double")) + lit(0.5))
              .cast("long")).as("aa_micro"))
          .filter($"cn" >= 2)
          .join(e0, $"a" === $"pa" && $"b" === $"pb", "left_anti")
        scoredPairs
          .join(deg.select($"v".as("a"), $"deg".as("da")), "a")
          .join(deg.select($"v".as("b"), $"deg".as("db")), "b")
          .select($"a".as("pa"), $"b".as("pb"), $"cn", $"aa_micro",
            floor(lit(1000.0) * $"cn" / ($"da" + $"db" - $"cn") + lit(0.5))
              .cast("long").as("jac_milli"))
          .orderBy($"aa_micro".desc, $"cn".desc, $"pa", $"pb")
          .limit(100)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS MATERIALIZED (
             |  SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM li a
             |  JOIN li b ON a.l_orderkey = b.l_orderkey
             |   AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |dir AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0
             |        UNION ALL SELECT pb, pa FROM e0),
             |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
             |        FROM dir GROUP BY 1),
             |wed AS (
             |  SELECT x.src AS z, x.dst AS a, y.dst AS b
             |  FROM dir x JOIN dir y ON x.src = y.src AND x.dst < y.dst),
             |cnagg AS (
             |  SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS cn,
             |    CAST(SUM(CAST(floor(1000000.0 / ln(CAST(dz.deg AS DOUBLE))
             |      + 0.5) AS BIGINT)) AS BIGINT) AS aa_micro
             |  FROM wed w JOIN deg dz ON w.z = dz.v GROUP BY 1, 2),
             |cand AS (
             |  SELECT c.* FROM cnagg c
             |  LEFT JOIN e0 ON c.a = e0.pa AND c.b = e0.pb
             |  WHERE e0.pa IS NULL AND c.cn >= 2)
             |SELECT c.a AS pa, c.b AS pb, c.cn, c.aa_micro,
             |  CAST(floor(1000.0 * c.cn / (da.deg + db.deg - c.cn) + 0.5)
             |    AS BIGINT) AS jac_milli
             |FROM cand c JOIN deg da ON c.a = da.v JOIN deg db ON c.b = db.v
             |ORDER BY aa_micro DESC, cn DESC, pa, pb LIMIT 100""".stripMargin)),

    // ----- q238: multi-source BFS distance layers on the q209 thinned
    // graph — the reachability-DEPTH member of the graph family (CC
    // answers "connected at all", this answers "how far"): every part
    // whose key is ≡0 mod 97 seeds at distance 0, and 4 unrolled
    // frontier rounds label each node with its first-reached round
    // (= exact hop distance for d ≤ 4; the fixed unroll is the
    // q209/q198 replayability discipline). Output: nodes per distance
    // layer plus the still-unreached remainder (dist = -1).
    QueryDef(
      "q238_bfs_layers",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e0 = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
        val dir = e0.select($"pa".as("src"), $"pb".as("dst"))
          .unionAll(e0.select($"pb".as("src"), $"pa".as("dst")))
          .repartition($"src")
          .transform(graft.operators.Iterate.truncate)   // one edge layout, reused per round
        val nodes = dir.select($"src".cast("long").as("v")).distinct()
        var reached = nodes.filter($"v" % 97 === 0)
          .select($"v", lit(0L).as("dist")).transform(graft.operators.Iterate.truncate)
        for (i <- 1 to 4) {
          val next = dir
            .join(reached.filter($"dist" === i - 1).select($"v".as("src")), "src")
            .select($"dst".cast("long").as("v")).distinct()
            .join(reached.select($"v"), Seq("v"), "left_anti")
            .select($"v", lit(i.toLong).as("dist"))
          reached = reached.unionAll(next).transform(graft.operators.Iterate.truncate)
        }
        val unreached = nodes.join(reached.select($"v"), Seq("v"), "left_anti")
          .select($"v", lit(-1L).as("dist"))
        reached.unionAll(unreached)
          .groupBy($"dist")
          .agg(count(lit(1)).as("n_nodes"), min($"v").as("min_part"))
          .orderBy($"dist")
      },
      Some {
        def round(i: Int): String =
          s"""r$i AS MATERIALIZED (
             |  SELECT v, ${i}::BIGINT AS dist FROM (
             |    SELECT DISTINCT CAST(d.dst AS BIGINT) AS v
             |    FROM dir d JOIN r${i - 1} p ON d.src = p.v) t
             |  WHERE NOT EXISTS (SELECT 1 FROM reach${i - 1} x WHERE x.v = t.v)),
             |reach$i AS MATERIALIZED (
             |  SELECT v, dist FROM reach${i - 1} UNION ALL SELECT v, dist FROM r$i)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |dir AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0
           |        UNION ALL SELECT pb, pa FROM e0),
           |nodes AS (SELECT DISTINCT CAST(src AS BIGINT) AS v FROM dir),
           |r0 AS (SELECT v, 0::BIGINT AS dist FROM nodes WHERE v % 97 = 0),
           |reach0 AS (SELECT v, dist FROM r0),
           |${(1 to 4).map(round).mkString(",\n")},
           |allv AS (
           |  SELECT v, dist FROM reach4
           |  UNION ALL
           |  SELECT v, -1::BIGINT AS dist FROM nodes n
           |  WHERE NOT EXISTS (SELECT 1 FROM reach4 x WHERE x.v = n.v))
           |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
           |  CAST(min(v) AS BIGINT) AS min_part
           |FROM allv GROUP BY dist ORDER BY dist""".stripMargin
      }),

    // ----- q244: coreness spectrum — k-core sizes for k = 2..5 on the
    // q209 thinned graph, the DENSITY PROFILE the single-k q209 view
    // can't show ("how fast does the repeatedly-co-bought backbone
    // thin out as the cohesion bar rises"). NESTED peels off ONE
    // checkpointed edge list (GraphOps.corenessSpectrum): coreness
    // nests — the k-core lives inside the (k−1)-core — so peel k is
    // seeded with peel (k−1)'s emitted core, strictly less work per
    // successive k than the r10 four-independent-peels shape; the
    // oracle CTE chain seeds identically so both sides run the same
    // procedure. In-core edge count = Σ core_deg / 2 (handshake —
    // exact, the sum is even). Empty cores drop out on both sides
    // (groupBy emits no row; HAVING count > 0 mirrors it), so row
    // sets stay equal even when k exceeds the graph's degeneracy.
    QueryDef(
      "q244_coreness_spectrum",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
        GraphOps.corenessSpectrum(e, "pa", "pb", 2, 5, rounds = 8)
          .groupBy($"k")
          .agg(count(lit(1)).as("n_nodes"), sum($"core_deg").as("sdeg"),
            min($"id").as("min_part"))
          .select($"k", $"n_nodes",
            ($"sdeg" / 2).cast("long").as("n_edges"), $"min_part")
          .orderBy($"k")
      },
      Some {
        def chain(k: Int): String = {
          def peel(i: Int): String =
            s"""s${i}_$k AS MATERIALIZED (
               |  SELECT t.v FROM (
               |    SELECT CAST(d.dst AS BIGINT) AS v, count(*) AS c
               |    FROM dir d JOIN s${i - 1}_$k a ON d.src = a.v GROUP BY 1) t
               |  JOIN s${i - 1}_$k b ON t.v = b.v
               |  WHERE t.c >= $k)""".stripMargin
          // nested seed: peel k starts from core(k-1), mirroring
          // GraphOps.corenessSpectrum procedure-for-procedure
          val seed = if (k == 2) "s0all" else s"core${k - 1}"
          s"""s0_$k AS (SELECT v FROM $seed),
             |${(1 to 8).map(peel).mkString(",\n")},
             |core$k AS (
             |  SELECT t.v, t.c FROM (
             |    SELECT CAST(d.dst AS BIGINT) AS v, count(*) AS c
             |    FROM dir d JOIN s8_$k a ON d.src = a.v GROUP BY 1) t
             |  JOIN s8_$k b ON t.v = b.v
             |  WHERE t.c >= $k)""".stripMargin
        }
        val finals = (2 to 5).map(k =>
          s"""SELECT CAST($k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(SUM(c) / 2 AS BIGINT) AS n_edges,
             |  CAST(MIN(v) AS BIGINT) AS min_part
             |FROM core$k HAVING count(*) > 0""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |        UNION ALL SELECT b, a FROM e0),
           |s0all AS MATERIALIZED (SELECT DISTINCT CAST(src AS BIGINT) AS v FROM dir),
           |${(2 to 5).map(chain).mkString(",\n")}
           |SELECT * FROM (
           |$finals)
           |ORDER BY k""".stripMargin
      }),

    // ----- q249: rich-club coefficient φ(k) for k = 1..10 on the q209
    // thinned graph — "do the high-degree parts preferentially link to
    // EACH OTHER" (the hub-backbone structure question q244's size
    // spectrum can't answer). Exact: per-edge m = min(deg_a, deg_b)
    // and per-node degree histograms fan out over the 10 thresholds
    // (broadcast k-range, conditional sums), φ = 2e_k/(n_k(n_k−1))
    // micro-snapped once; rows with n_k < 2 drop on both sides.
    QueryDef(
      "q249_rich_club",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e0 = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
          .transform(graft.operators.Iterate.truncate)
        val deg = e0.select($"pa".as("v")).unionAll(e0.select($"pb".as("v")))
          .groupBy($"v").agg(count(lit(1)).as("deg"))
          .transform(graft.operators.Iterate.truncate)
        val em = e0
          .join(deg.select($"v".as("pa"), $"deg".as("da")), "pa")
          .join(deg.select($"v".as("pb"), $"deg".as("db")), "pb")
          .select(least($"da", $"db").as("m"))
        val ks = s.range(1, 11).toDF("k")
        val ek = em.crossJoin(broadcast(ks))
          .groupBy($"k").agg(sum(when($"m" > $"k", 1L).otherwise(0L)).as("e"))
        val nk = deg.crossJoin(broadcast(ks))
          .groupBy($"k").agg(sum(when($"deg" > $"k", 1L).otherwise(0L)).as("n"))
        ek.join(nk, "k")
          .filter($"n" >= 2)
          .select($"k", $"n".as("n_rich"), $"e".as("e_rich"),
            floor(lit(2.0) * $"e".cast("double") * 1000000.0
              / ($"n".cast("double") * ($"n" - 1)) + lit(0.5))
              .cast("long").as("phi_micro"))
          .orderBy($"k")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS MATERIALIZED (
             |  SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM li a
             |  JOIN li b ON a.l_orderkey = b.l_orderkey
             |   AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS MATERIALIZED (
             |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
             |    SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0)
             |  GROUP BY 1),
             |em AS (
             |  SELECT LEAST(da.deg, db.deg) AS m
             |  FROM e0 JOIN deg da ON e0.pa = da.v JOIN deg db ON e0.pb = db.v),
             |ks AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS k),
             |ek AS (
             |  SELECT k, CAST(SUM(CASE WHEN m > k THEN 1 ELSE 0 END) AS BIGINT)
             |    AS e
             |  FROM em CROSS JOIN ks GROUP BY 1),
             |nk AS (
             |  SELECT k, CAST(SUM(CASE WHEN deg > k THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n
             |  FROM deg CROSS JOIN ks GROUP BY 1)
             |SELECT ek.k, nk.n AS n_rich, ek.e AS e_rich,
             |  CAST(floor(2.0 * CAST(ek.e AS DOUBLE) * 1000000.0
             |    / (CAST(nk.n AS DOUBLE) * (nk.n - 1)) + 0.5) AS BIGINT)
             |    AS phi_micro
             |FROM ek JOIN nk ON ek.k = nk.k
             |WHERE nk.n >= 2
             |ORDER BY ek.k""".stripMargin)),

    // ----- q250: degree assortativity (Newman 2002) — the one-number
    // mixing summary behind q249's curve: Pearson correlation of
    // endpoint degrees over every DIRECTED edge (each undirected edge
    // contributes both orientations, the standard convention). All
    // five moments are exact BIGINT sums; one fixed double assembly,
    // micro-snapped.
    QueryDef(
      "q250_assortativity",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e0 = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
          .transform(graft.operators.Iterate.truncate)
        val deg = e0.select($"pa".as("v")).unionAll(e0.select($"pb".as("v")))
          .groupBy($"v").agg(count(lit(1)).as("deg"))
        val dd = e0
          .join(deg.select($"v".as("pa"), $"deg".as("da")), "pa")
          .join(deg.select($"v".as("pb"), $"deg".as("db")), "pb")
          .select($"da", $"db")
        val both = dd.select($"da".as("x"), $"db".as("y"))
          .unionAll(dd.select($"db".as("x"), $"da".as("y")))
        both.agg(count(lit(1)).as("m"), sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
            sum($"y" * $"y").as("syy"))
          .select($"m",
            floor(($"m".cast("double") * $"sxy".cast("double")
                - $"sx".cast("double") * $"sy".cast("double"))
              / (sqrt($"m".cast("double") * $"sxx".cast("double")
                  - $"sx".cast("double") * $"sx".cast("double"))
                * sqrt($"m".cast("double") * $"syy".cast("double")
                  - $"sy".cast("double") * $"sy".cast("double")))
              * 1000000.0 + lit(0.5)).cast("long").as("r_micro"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS MATERIALIZED (
             |  SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM li a
             |  JOIN li b ON a.l_orderkey = b.l_orderkey
             |   AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS MATERIALIZED (
             |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
             |    SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0)
             |  GROUP BY 1),
             |dd AS (
             |  SELECT da.deg AS da, db.deg AS db
             |  FROM e0 JOIN deg da ON e0.pa = da.v JOIN deg db ON e0.pb = db.v),
             |bo AS (SELECT da AS x, db AS y FROM dd
             |       UNION ALL SELECT db, da FROM dd),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS m, CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(y * y) AS BIGINT) AS syy
             |  FROM bo)
             |SELECT m,
             |  CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
             |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             |    * 1000000.0 + 0.5) AS BIGINT) AS r_micro
             |FROM m""".stripMargin)),

    // ----- q252: hub-removal robustness (targeted-attack percolation,
    // Albert/Jeong/Barabási 2000) — what q249/q250 imply, measured
    // directly: delete the top-h hubs (h ∈ {0, 5, 10, 20}, ranked by
    // degree with id tie-break) and report the surviving edge count,
    // nodes still carrying an edge, and the surviving max degree.
    // Four anti-join passes over one checkpointed edge list; the hub
    // sets are TakeOrdered h-row frames (driver-bounded), never a
    // global rank over the node table.
    QueryDef(
      "q252_hub_percolation",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e0 = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
          .transform(graft.operators.Iterate.truncate)
        val deg = e0.select($"pa".as("v")).unionAll(e0.select($"pb".as("v")))
          .groupBy($"v").agg(count(lit(1)).as("deg"))
          .transform(graft.operators.Iterate.truncate)
        Seq(0, 5, 10, 20).map { h =>
          val hubs = deg.orderBy($"deg".desc, $"v").limit(h)
            .select($"v").transform(graft.operators.Iterate.truncate)
          val surv = e0
            .join(hubs.select($"v".as("pa")), Seq("pa"), "left_anti")
            .join(hubs.select($"v".as("pb")), Seq("pb"), "left_anti")
          val sdeg = surv.select($"pa".as("v")).unionAll(surv.select($"pb".as("v")))
            .groupBy($"v").agg(count(lit(1)).as("sd"))
          surv.agg(count(lit(1)).as("n_edges"))
            .crossJoin(sdeg.agg(
              coalesce(count(lit(1)), lit(0L)).as("n_nodes"),
              coalesce(max($"sd"), lit(0L)).as("max_deg")))
            .select(lit(h.toLong).as("h"), $"n_edges", $"n_nodes", $"max_deg")
        }.reduce(_ unionAll _).orderBy($"h")
      },
      Some {
        def variant(h: Int): String =
          s"""hub$h AS (SELECT v FROM rdeg WHERE rn <= $h),
             |sv$h AS (
             |  SELECT e.pa, e.pb FROM e0 e
             |  WHERE NOT EXISTS (SELECT 1 FROM hub$h x WHERE x.v = e.pa)
             |    AND NOT EXISTS (SELECT 1 FROM hub$h y WHERE y.v = e.pb)),
             |sd$h AS (
             |  SELECT v, CAST(count(*) AS BIGINT) AS sd FROM (
             |    SELECT pa AS v FROM sv$h UNION ALL SELECT pb FROM sv$h)
             |  GROUP BY 1),
             |row$h AS (
             |  SELECT CAST($h AS BIGINT) AS h,
             |    (SELECT CAST(count(*) AS BIGINT) FROM sv$h) AS n_edges,
             |    (SELECT CAST(COALESCE(count(*), 0) AS BIGINT) FROM sd$h)
             |      AS n_nodes,
             |    (SELECT CAST(COALESCE(MAX(sd), 0) AS BIGINT) FROM sd$h)
             |      AS max_deg)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS MATERIALIZED (
           |  SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |deg AS (
           |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
           |    SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0)
           |  GROUP BY 1),
           |rdeg AS MATERIALIZED (
           |  SELECT v, row_number() OVER (ORDER BY deg DESC, v) AS rn
           |  FROM deg),
           |${Seq(0, 5, 10, 20).map(variant).mkString(",\n")}
           |SELECT * FROM (
           |${Seq(0, 5, 10, 20).map(h => s"SELECT * FROM row$h").mkString("\nUNION ALL\n")})
           |ORDER BY h""".stripMargin
      }),

    // ----- q272: harmonic centrality (Boldi & Vigna 2014) from the
    // q238 seed set, cutoff 4 hops — the landmark/sampled centrality
    // a 100 TB graph actually computes (exact all-pairs closeness is
    // quadratic; sampling seeds + a truncated horizon is the standard
    // approximation, and HARMONIC handles disconnected reach sets
    // where classic closeness degenerates). Per-seed labeled BFS
    // frontiers (s, v, dist) over the one checkpointed edge layout;
    // state is seeds×reach-bounded, NOT graph-quadratic. Each 1/d
    // contribution is fdiv(1e6, d) — exact integer, order-free sums.
    QueryDef(
      "q272_harmonic_centrality",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e0 = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
        val dir = e0.select($"pa".as("src"), $"pb".as("dst"))
          .unionAll(e0.select($"pb".as("src"), $"pa".as("dst")))
          .repartition($"src")
          .transform(graft.operators.Iterate.truncate)   // one edge layout, reused per round
        // layer-wise checkpoints (not the growing union) — the q277
        // block-storage discipline
        val layers = scala.collection.mutable.ArrayBuffer(
          dir.select($"src".cast("long").as("v")).distinct()
            .filter($"v" % 97 === 0)
            .select($"v".as("sd"), $"v", lit(0L).as("dist"))
            .transform(graft.operators.Iterate.truncate))
        for (i <- 1 to 4) {
          val seen = layers.map(_.select($"sd", $"v")).reduce(_ unionAll _)
          val next = dir
            .join(layers.last.select($"sd", $"v".as("src")), "src")
            .select($"sd", $"dst".cast("long").as("v")).distinct()
            .join(seen, Seq("sd", "v"), "left_anti")
            .select($"sd", $"v", lit(i.toLong).as("dist"))
          layers += next.transform(graft.operators.Iterate.truncate)
        }
        layers.drop(1).reduce(_ unionAll _)
          .groupBy($"sd")
          .agg(count(lit(1)).as("n_reached"),
            sum(floor(lit(1000000.0) / $"dist".cast("double")).cast("long"))
              .as("harmonic_micro"))
          .orderBy($"sd")
      },
      Some {
        def round(i: Int): String =
          s"""r$i AS MATERIALIZED (
             |  SELECT sd, v, ${i}::BIGINT AS dist FROM (
             |    SELECT DISTINCT p.sd, CAST(d.dst AS BIGINT) AS v
             |    FROM dir d JOIN r${i - 1} p ON d.src = p.v) t
             |  WHERE NOT EXISTS (SELECT 1 FROM reach${i - 1} x
             |                    WHERE x.sd = t.sd AND x.v = t.v)),
             |reach$i AS MATERIALIZED (
             |  SELECT sd, v, dist FROM reach${i - 1}
             |  UNION ALL SELECT sd, v, dist FROM r$i)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS MATERIALIZED (
           |  SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |dir AS MATERIALIZED (
           |  SELECT pa AS src, pb AS dst FROM e0
           |  UNION ALL SELECT pb, pa FROM e0),
           |r0 AS MATERIALIZED (
           |  SELECT v AS sd, v, 0::BIGINT AS dist FROM (
           |    SELECT DISTINCT CAST(src AS BIGINT) AS v FROM dir)
           |  WHERE v % 97 = 0),
           |reach0 AS MATERIALIZED (SELECT sd, v, dist FROM r0),
           |${(1 to 4).map(round).mkString(",\n")}
           |SELECT sd, CAST(COUNT(*) AS BIGINT) AS n_reached,
           |  CAST(SUM(CAST(floor(1000000.0 / CAST(dist AS DOUBLE)) AS BIGINT))
           |    AS BIGINT) AS harmonic_micro
           |FROM reach4 WHERE dist > 0
           |GROUP BY sd ORDER BY sd""".stripMargin
      }),

    // ----- q277: hop-bounded Brandes betweenness from the q272 seed
    // set (operators.GraphOps.truncatedBetweenness) — the brokerage
    // member of the centrality family: which parts sit ON the
    // shortest paths between others (harmonic asks how CLOSE a seed
    // is; this asks who carries the traffic). Forward per-seed BFS
    // with exact integer path counts, backward dependency
    // accumulation with micro-quantized fdiv terms — the whole
    // two-phase recurrence replays as unrolled CTEs. Top-50 brokers
    // with a total (bc desc, v) tie-break.
    QueryDef(
      "q277_betweenness",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e0 = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
        GraphOps.truncatedBetweenness(e0, "pa", "pb")
      },
      Some {
        def fwd(i: Int): String =
          s"""r$i AS MATERIALIZED (
             |  SELECT sd, v, ${i}::BIGINT AS dist, sigma FROM (
             |    SELECT p.sd, CAST(d.dst AS BIGINT) AS v,
             |      CAST(SUM(p.sigma) AS BIGINT) AS sigma
             |    FROM dir d JOIN r${i - 1} p ON d.src = p.v
             |    GROUP BY 1, 2) t
             |  WHERE NOT EXISTS (SELECT 1 FROM reach${i - 1} x
             |                    WHERE x.sd = t.sd AND x.v = t.v)),
             |reach$i AS MATERIALIZED (
             |  SELECT sd, v, dist, sigma FROM reach${i - 1}
             |  UNION ALL SELECT sd, v, dist, sigma FROM r$i)""".stripMargin
        def bwd(l: Int): String =
          s"""d$l AS MATERIALIZED (
             |  SELECT a.sd, a.v,
             |    CAST(SUM(CAST(floor(
             |      CAST(a.sigma * (1000000 + COALESCE(dd.dq, 0)) AS DOUBLE)
             |      / CAST(b.sigma AS DOUBLE)) AS BIGINT)) AS BIGINT) AS dq
             |  FROM reach4 a
             |  JOIN dir e ON e.src = a.v
             |  JOIN reach4 b ON b.sd = a.sd AND b.v = CAST(e.dst AS BIGINT)
             |    AND b.dist = ${l + 1}
             |  LEFT JOIN d${l + 1} dd ON dd.sd = a.sd AND dd.v = b.v
             |  WHERE a.dist = $l
             |  GROUP BY 1, 2)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS MATERIALIZED (
           |  SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |dir AS MATERIALIZED (
           |  SELECT pa AS src, pb AS dst FROM e0
           |  UNION ALL SELECT pb, pa FROM e0),
           |r0 AS MATERIALIZED (
           |  SELECT v AS sd, v, 0::BIGINT AS dist, 1::BIGINT AS sigma FROM (
           |    SELECT DISTINCT CAST(src AS BIGINT) AS v FROM dir)
           |  WHERE v % 97 = 0),
           |reach0 AS MATERIALIZED (SELECT sd, v, dist, sigma FROM r0),
           |${(1 to 4).map(fwd).mkString(",\n")},
           |d4 AS (SELECT sd, v, 0::BIGINT AS dq FROM reach4 WHERE dist = 4),
           |${(3 to 1 by -1).map(bwd).mkString(",\n")}
           |SELECT v, CAST(SUM(dq) AS BIGINT) AS bc_micro FROM (
           |  SELECT sd, v, dq FROM d1
           |  UNION ALL SELECT sd, v, dq FROM d2
           |  UNION ALL SELECT sd, v, dq FROM d3)
           |GROUP BY v ORDER BY bc_micro DESC, v LIMIT 50""".stripMargin
      }),

    // ----- q279: Newman modularity of the q198 LPA communities —
    // the QUALITY measure the community family was missing (VERDICT
    // r9 #5 asked whether LPA converges; this asks whether the
    // labels it converges to actually beat chance):
    // Q = Σ_c [e_c/m − (d_c/2m)²] over the distinct co-purchase edge
    // set. Exact integer counts (within-community edges, community
    // degree mass); each community's term is ONE double chain
    // nano-snapped before the exact total. Top-10 communities by
    // size with Q attached (q177 shape); the oracle replays the full
    // 3-round LPA recurrence first (the q198 CTE chain) so the
    // LABELS themselves are re-derived, not trusted.
    QueryDef(
      "q279_modularity",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey")
        val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
        val lab = lpaLabels(s, d)
        val eDist = e.select($"pa", $"pb").distinct().transform(graft.operators.Iterate.truncate)
        val mm = eDist.agg(count(lit(1)).as("m"))
        val eLab = eDist
          .join(lab.select($"id".as("pa"), $"community".as("ca")), "pa")
          .join(lab.select($"id".as("pb"), $"community".as("cb")), "pb")
        val ein = eLab.filter($"ca" === $"cb")
          .groupBy($"ca".as("community")).agg(count(lit(1)).as("e_in"))
        val deg = eDist.select($"pa".as("id"))
          .unionAll(eDist.select($"pb".as("id")))
          .groupBy($"id").agg(count(lit(1)).as("deg"))
        val dcom = deg.join(lab, "id").groupBy($"community")
          .agg(sum($"deg").as("d_tot"), count(lit(1)).as("n_nodes"))
        val terms = dcom.join(ein, Seq("community"), "left")
          .withColumn("e_in", coalesce($"e_in", lit(0L)))
          .crossJoin(mm)
          .withColumn("term_nano",
            floor(($"e_in".cast("double") / $"m".cast("double")
              - ($"d_tot".cast("double") / (lit(2.0) * $"m".cast("double")))
                * ($"d_tot".cast("double") / (lit(2.0) * $"m".cast("double"))))
              * 1000000000.0 + lit(0.5)).cast("long"))
          .transform(graft.operators.Iterate.truncate)   // top-10 + Q total read it
        val qn = terms.agg(sum($"term_nano").as("q_nano"))
        terms.select($"community", $"n_nodes", $"e_in", $"d_tot", $"term_nano")
          .crossJoin(qn)
          .orderBy($"n_nodes".desc, $"community").limit(10)
      },
      Some {
        def round(i: Int): String = {
          val prev = s"l${i - 1}"
          s"""c$i AS (
             |  SELECT CAST(d.dst AS BIGINT) AS id, l.lbl,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM dir d JOIN $prev l ON l.id = d.src GROUP BY 1, 2),
             |l$i AS (
             |  SELECT id, lbl FROM (
             |    SELECT id, lbl,
             |      row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl ASC) AS rn
             |    FROM c$i) t
             |  WHERE rn = 1)""".stripMargin
        }
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS MATERIALIZED (
           |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2),
           |dir AS (SELECT a AS src, b AS dst FROM e0
           |        UNION ALL SELECT b, a FROM e0),
           |l0 AS (SELECT DISTINCT CAST(src AS BIGINT) AS id,
           |         CAST(src AS BIGINT) AS lbl FROM dir),
           |${round(1)},
           |${round(2)},
           |${round(3)},
           |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
           |ein AS (
           |  SELECT la.lbl AS community, CAST(COUNT(*) AS BIGINT) AS e_in
           |  FROM e0 JOIN l3 la ON la.id = e0.a JOIN l3 lb ON lb.id = e0.b
           |  WHERE la.lbl = lb.lbl GROUP BY 1),
           |deg AS (
           |  SELECT CAST(src AS BIGINT) AS id, CAST(COUNT(*) AS BIGINT) AS deg
           |  FROM dir GROUP BY 1),
           |dcom AS (
           |  SELECT l.lbl AS community, CAST(SUM(g.deg) AS BIGINT) AS d_tot,
           |    CAST(COUNT(*) AS BIGINT) AS n_nodes
           |  FROM deg g JOIN l3 l ON l.id = g.id GROUP BY 1),
           |terms AS MATERIALIZED (
           |  SELECT d.community, d.n_nodes, COALESCE(e.e_in, 0) AS e_in,
           |    d.d_tot,
           |    CAST(floor((CAST(COALESCE(e.e_in, 0) AS DOUBLE)
           |        / CAST(m.m AS DOUBLE)
           |      - (CAST(d.d_tot AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
           |        * (CAST(d.d_tot AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))))
           |      * 1000000000.0 + 0.5) AS BIGINT) AS term_nano
           |  FROM dcom d LEFT JOIN ein e ON e.community = d.community
           |  CROSS JOIN mm m),
           |qn AS (SELECT CAST(SUM(term_nano) AS BIGINT) AS q_nano FROM terms)
           |SELECT t.community, t.n_nodes, t.e_in, t.d_tot, t.term_nano,
           |  q.q_nano
           |FROM terms t CROSS JOIN qn q
           |ORDER BY t.n_nodes DESC, t.community LIMIT 10""".stripMargin
      }),

    // ----- q290: Katz centrality (Katz 1953) on the q209 thinned
    // graph — the WALK-VOLUME centrality axis the family still
    // lacked: PageRank splits a node's mass among its neighbors
    // (prominence), Katz doesn't (volume of attenuated walks), so
    // hubs with many weak ties rank differently. Fixed 4 rounds of
    // x ← 1 + 0.05·A·x with 2^-40-quantized cross-node sums (the q99
    // discipline); oracle unrolls the identical recurrence.
    QueryDef(
      "q290_katz_centrality",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2).select($"pa", $"pb")
        GraphOps.katz(e, "pa", "pb", iterations = 4, alpha = 0.05)
          .select($"id".as("p_partkey"),
            floor($"katz" * 1e6 + lit(0.5)).cast("long").as("katz_micro"))
          .orderBy($"p_partkey")
      },
      Some {
        val Q = 1099511627776L
        def round(i: Int): String =
          s"""x$i AS MATERIALIZED (
             |  SELECT CAST(d.dst AS BIGINT) AS v,
             |    CAST(1.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) *
             |      (CAST(SUM(CAST(floor(x.x * $Q) AS BIGINT)) AS DOUBLE)
             |        / $Q) AS x
             |  FROM dir d JOIN x${i - 1} x ON d.src = x.v GROUP BY 1)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |        UNION ALL SELECT b, a FROM e0),
           |x0 AS (SELECT DISTINCT CAST(src AS BIGINT) AS v,
           |         CAST(1.0 AS DOUBLE) AS x FROM dir),
           |${(1 to 4).map(round).mkString(",\n")}
           |SELECT v AS p_partkey,
           |  CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS katz_micro
           |FROM x4 ORDER BY p_partkey""".stripMargin
      }),

    // ----- q291: personalized PageRank (random walk with restart)
    // from the q238 seed convention (part % 97 = 0) on the raw q99
    // co-purchase graph — LOCAL relevance ("parts related to this
    // seed catalog slice") vs q99's global prominence: the teleport
    // mass lands only on seeds, so the frame stays seed-local and
    // SPARSE (nodes within 4 hops), which is the 100 TB
    // walk-with-restart shape. Quantized exactly like q99; the
    // oracle replays all 4 rounds including the pr > 0 sparsity
    // filter.
    QueryDef(
      "q291_personalized_pagerank",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
        val seeds = e.select($"pa".cast("long").as("v"))
          .unionAll(e.select($"pb".cast("long").as("v")))
          .distinct().filter($"v" % 97 === 0)
        GraphOps.personalizedPageRank(e, "pa", "pb", seeds,
            iterations = 4, damping = 0.85)
          .select($"id".as("p_partkey"),
            floor($"ppr" * 1e9 + lit(0.5)).cast("long").as("ppr_nano"))
          .orderBy($"p_partkey")
      },
      Some {
        val Q = 1099511627776L
        def round(i: Int): String =
          s"""p$i AS MATERIALIZED (
             |  SELECT * FROM (
             |    SELECT g.v, g.deg,
             |      (CASE WHEN sd.v IS NOT NULL
             |        THEN (1 - CAST(0.85 AS DOUBLE)) / (SELECT ns FROM nsq)
             |        ELSE CAST(0 AS DOUBLE) END)
             |       + CAST(0.85 AS DOUBLE) * coalesce(m.m, 0) AS pr
             |    FROM deg g
             |    LEFT JOIN (
             |      SELECT dir.dst AS v,
             |        CAST(SUM(CAST(floor(p.pr / p.deg * $Q) AS BIGINT))
             |          AS DOUBLE) / $Q AS m
             |      FROM dir JOIN p${i - 1} p ON dir.src = p.v GROUP BY 1) m
             |      USING (v)
             |    LEFT JOIN sd ON sd.v = g.v)
             |  WHERE pr > 0)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT a.l_partkey AS a, b.l_partkey AS b FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2),
           |dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
           |        UNION ALL SELECT b, a FROM e0),
           |deg AS (SELECT CAST(src AS BIGINT) AS v, count(*) AS deg
           |        FROM dir GROUP BY 1),
           |sd AS (SELECT v FROM deg WHERE v % 97 = 0),
           |nsq AS (SELECT count(*) AS ns FROM sd),
           |p0 AS (SELECT g.v, g.deg,
           |         CAST(1 AS DOUBLE) / (SELECT ns FROM nsq) AS pr
           |       FROM deg g JOIN sd ON sd.v = g.v),
           |${(1 to 4).map(round).mkString(",\n")}
           |SELECT v AS p_partkey,
           |  CAST(floor(pr * 1e9 + 0.5) AS BIGINT) AS ppr_nano
           |FROM p4 ORDER BY p_partkey""".stripMargin
      }),

    // ----- q292: hop-bounded weighted shortest paths (Bellman–Ford,
    // 6 rounds) from the q238 seeds over the thinned co-purchase
    // graph with cost = 1e6 DIV w (stronger co-purchase = shorter
    // hop) — the WEIGHTED companion of q238's unit-hop BFS layers:
    // "how cheaply can demand flow from the seed catalog slice to
    // each part". All-integer algebra end to end; the oracle unrolls
    // the six min-relaxation rounds (full relaxation — equal to the
    // engine's frontier-pruned rounds by the standard SPFA argument).
    QueryDef(
      "q292_weighted_sssp",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct()
        val ew = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb").agg(count(lit(1)).as("w"))
          .filter($"w" >= 2)
        val cost = expr("CAST(1000000 AS BIGINT) DIV w")
        val dirW = ew.select($"pa".as("src"), $"pb".as("dst"), cost.as("cost"))
          .unionAll(ew.select($"pb".as("src"), $"pa".as("dst"), cost.as("cost")))
        val seeds = dirW.select($"src".cast("long").as("v"))
          .distinct().filter($"v" % 97 === 0)
        GraphOps.bellmanFord(dirW, seeds, rounds = 6)
          .select($"id".as("p_partkey"), $"dist_q")
          .orderBy($"p_partkey")
      },
      Some {
        def round(i: Int): String =
          s"""d$i AS MATERIALIZED (
             |  SELECT v, CAST(MIN(dist) AS BIGINT) AS dist FROM (
             |    SELECT v, dist FROM d${i - 1}
             |    UNION ALL
             |    SELECT CAST(w.dst AS BIGINT) AS v, p.dist + w.cost AS dist
             |    FROM dirw w JOIN d${i - 1} p ON w.src = p.v)
             |  GROUP BY v)""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e0 AS (
           |  SELECT a.l_partkey AS a, b.l_partkey AS b, count(*) AS w
           |  FROM li a
           |  JOIN li b ON a.l_orderkey = b.l_orderkey
           |   AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |dirw AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, 1000000 // w AS cost FROM e0
           |  UNION ALL SELECT b, a, 1000000 // w FROM e0),
           |d0 AS (SELECT DISTINCT CAST(src AS BIGINT) AS v,
           |         CAST(0 AS BIGINT) AS dist
           |       FROM dirw WHERE src % 97 = 0),
           |${(1 to 6).map(round).mkString(",\n")}
           |SELECT v AS p_partkey, dist AS dist_q
           |FROM d6 ORDER BY p_partkey""".stripMargin
      }))

  /** Content-stamped LPA community labels (id, community) on the raw
    * co-purchase graph — 3 synchronous min-label rounds, materialized
    * ONCE by the first consumer and read by q198 (the labels
    * themselves) and q279 (their modularity): the hashedToks/
    * componentArtifact discipline — at 100 TB a community assignment
    * is a curated table, not per-query work. Both consumers' oracles
    * REPLAY the full recurrence, so the artifact is still
    * value-checked every round.
    */
  private[graft] def lpaLabels(s: SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val path = graft.ArtifactCache.path("lpa",
      java.nio.file.Paths.get(d, "lineitem.parquet"),
      "copurchase-lpa3-minlabel")
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = marker.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val e = GraphOps.coOccurrencePairs(li, "l_orderkey", "l_partkey")
      GraphOps.labelPropagation(e, "pa", "pb", iterations = 3)
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** DuckDB replay of [[graft.functions.CountMinSketch]] — the q103
    * oracle. FNV-1a over the word's bytes in HUGEINT (the corpus is
    * ASCII, so unicode(c) == the UTF-8 byte; list_reduce is seeded
    * with the offset basis), fingerprint = h mod 2^63 (the Scala
    * `& Long.MaxValue`), then each row's bucket via the affine
    * (a·x + b) mod p mod Width family — constants read straight from
    * CountMinSketch so they cannot drift. A CMS counter is by
    * construction the Σ count of every word colliding into it, so the
    * estimate is rebuilt as min over rows of the bucket sum.
    */
  private val cmsReplayOracleSql: String = {
    import graft.functions.CountMinSketch.{A, B, Depth, P, Width}
    val rowsVals = (0 until Depth)
      .map(r => s"($r, ${A(r)}, ${B(r)})").mkString(", ")
    s"""WITH words AS (
       |  SELECT unnest(list_filter(string_split(text, ' '),
       |                            x -> length(x) > 0)) AS word
       |  FROM documents),
       |counts AS (SELECT word, count(*) AS n FROM words GROUP BY word),
       |fnv AS (
       |  SELECT word, n,
       |    CAST(list_reduce(
       |      [CAST(14695981039346656037 AS HUGEINT)] ||
       |        list_transform(string_split(word, ''),
       |                       c -> CAST(unicode(c) AS HUGEINT)),
       |      (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616) %
       |      9223372036854775808 AS BIGINT) AS fp
       |  FROM counts),
       |bk AS (
       |  SELECT f.word, f.n, rw.r,
       |    ((rw.a * (f.fp % $P) + rw.b) % $P) % $Width AS bkt
       |  FROM fnv f CROSS JOIN (VALUES $rowsVals) AS rw(r, a, b)),
       |sums AS (SELECT r, bkt, SUM(n) AS s FROM bk GROUP BY r, bkt),
       |est AS (
       |  SELECT bk.word AS w, CAST(MIN(sums.s) AS BIGINT) AS n_cms
       |  FROM bk JOIN sums ON bk.r = sums.r AND bk.bkt = sums.bkt
       |  GROUP BY bk.word),
       |top AS (SELECT word, n AS n_exact FROM counts
       |        ORDER BY n DESC, word LIMIT 20)
       |SELECT t.word, t.n_exact, e.n_cms
       |FROM top t JOIN est e ON t.word = e.w
       |ORDER BY n_exact DESC, word""".stripMargin
  }
}
