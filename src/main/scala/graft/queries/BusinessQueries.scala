package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.r4
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Business-analytics staples: ABC/Pareto classification (q110),
  * market-basket association rules (q111), period-over-period
  * comparison (q112), and the native session_window surface (q113).
  */
object BusinessQueries {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  def defs: Seq[QueryDef] = Seq(
    // ----- q110: ABC classification — parts ranked by revenue,
    // cumulative-share classes (A < 80%, B < 95%, C rest). The
    // cumulative sum is GlobalOrder.runningSum — a two-pass
    // range-partitioned prefix sum, NOT a global unpartitioned
    // window: the frame is part-cardinality today, but part catalogs
    // grow with the corpus, and at 100× a single-window-task running
    // sum over tens of millions of rows is the q93-class
    // serialization point PrefixJoin eliminated.
    QueryDef(
      "q110_abc_classification",
      (s, d) => {
        import s.implicits._
        val rev = Tables.lineitem(s, d)
          .groupBy($"l_partkey")
          .agg(sum(dec($"l_extendedprice")).as("rev"))
        val tot = rev.agg(sum($"rev").as("tot"))
        val classed = graft.operators.GlobalOrder
          .runningSum(rev, Seq($"rev".desc, $"l_partkey"), "rev", "cum")
          .crossJoin(tot)
          .withColumn("share", ($"cum".cast("double") / $"tot".cast("double")))
          .withColumn("abc",
            when($"share" <= 0.80, "A").when($"share" <= 0.95, "B").otherwise("C"))
        classed.groupBy($"abc")
          .agg(count(lit(1)).as("n_parts"),
            r4(sum($"rev").cast("double") / first($"tot").cast("double"))
              .as("rev_share"))
          .orderBy($"abc")
      },
      Some("""WITH rev AS (
             |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
             |  FROM lineitem GROUP BY 1),
             |tot AS (SELECT SUM(rev) AS tot FROM rev),
             |classed AS (
             |  SELECT rev, CASE
             |    WHEN CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
             |        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             |      / CAST((SELECT tot FROM tot) AS DOUBLE) <= 0.80 THEN 'A'
             |    WHEN CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
             |        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             |      / CAST((SELECT tot FROM tot) AS DOUBLE) <= 0.95 THEN 'B'
             |    ELSE 'C' END AS abc
             |  FROM rev)
             |SELECT abc, count(*) AS n_parts,
             |  floor(CAST(SUM(rev) AS DOUBLE) / CAST((SELECT tot FROM tot) AS DOUBLE)
             |    * 10000 + 0.5) / 10000 AS rev_share
             |FROM classed GROUP BY abc ORDER BY abc""".stripMargin)),

    // ----- q111: market-basket association rules over order baskets —
    // support / directional confidence / lift for part pairs
    // co-purchased in ≥3 orders. The pair join is the oriented
    // co-occurrence equi-join (q99's edge builder), never basket ×
    // basket.
    QueryDef(
      "q111_association_rules",
      (s, d) => {
        import s.implicits._
        // persisted: li feeds the basket count, the item margins, and
        // both sides of the pair join — one distinct shuffle, not four
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct().persist()
        // lazy 1-row crossJoin (the q110/q115 pattern), NOT a driver
        // count(): an eager count forces a second full scan job
        val nOrders = li.agg(count_distinct($"l_orderkey").as("n_orders"))
        val itemN = li.groupBy($"l_partkey").agg(count(lit(1)).as("n_item"))
        val pairs = graft.operators.GraphOps
          .coOccurrencePairs(li, "l_orderkey", "l_partkey")
          .groupBy($"pa", $"pb")
          .agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 3)
        pairs
          .join(itemN.select($"l_partkey".as("pa"), $"n_item".as("n_a")), "pa")
          .join(itemN.select($"l_partkey".as("pb"), $"n_item".as("n_b")), "pb")
          .crossJoin(nOrders)
          .withColumn("support", r4($"n_ab".cast("double") / $"n_orders"))
          .withColumn("conf_ab", r4($"n_ab".cast("double") / $"n_a"))
          .withColumn("conf_ba", r4($"n_ab".cast("double") / $"n_b"))
          .withColumn("lift", r4(($"n_ab".cast("double") * $"n_orders") /
            ($"n_a".cast("double") * $"n_b")))
          .select($"pa", $"pb", $"n_ab", $"support", $"conf_ab", $"conf_ba", $"lift")
          .orderBy($"lift".desc, $"pa", $"pb")
          .limit(50)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
             |item AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY 1),
             |pairs AS (
             |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |   AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT pa, pb, n_ab,
             |  floor(CAST(n_ab AS DOUBLE) / (SELECT n_orders FROM n)
             |    * 10000 + 0.5) / 10000 AS support,
             |  floor(CAST(n_ab AS DOUBLE) / ia.n_item * 10000 + 0.5) / 10000
             |    AS conf_ab,
             |  floor(CAST(n_ab AS DOUBLE) / ib.n_item * 10000 + 0.5) / 10000
             |    AS conf_ba,
             |  floor(CAST(n_ab AS DOUBLE) * (SELECT n_orders FROM n)
             |    / (CAST(ia.n_item AS DOUBLE) * ib.n_item) * 10000 + 0.5) / 10000
             |    AS lift
             |FROM pairs
             |JOIN item ia ON pairs.pa = ia.l_partkey
             |JOIN item ib ON pairs.pb = ib.l_partkey
             |ORDER BY lift DESC, pa, pb LIMIT 50""".stripMargin)),

    // ----- q112: period-over-period — monthly revenue with
    // month-over-month and year-over-year growth. Comparison is by
    // CALENDAR month index (year·12+month), joined at idx−1 / idx−12
    // — a lag() over the months PRESENT would silently compare
    // against the wrong month whenever a month has zero orders.
    QueryDef(
      "q112_period_comparison",
      (s, d) => {
        import s.implicits._
        val monthly = Tables.orders(s, d)
          .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("month"))
          .agg(sum(dec($"o_totalprice")).cast("double").as("rev"))
          .withColumn("idx", year($"month") * 12 + month($"month"))
        val prev1 = monthly.select(($"idx" + 1).as("idx"), $"rev".as("rev_m1"))
        val prev12 = monthly.select(($"idx" + 12).as("idx"), $"rev".as("rev_m12"))
        monthly
          .join(prev1, Seq("idx"), "left")
          .join(prev12, Seq("idx"), "left")
          .select($"month", $"rev",
            r4($"rev" / $"rev_m1" - 1).as("mom"),
            r4($"rev" / $"rev_m12" - 1).as("yoy"))
          .orderBy($"month")
      },
      Some("""WITH m AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |  FROM orders GROUP BY 1),
             |mi AS (SELECT *, year(month) * 12 + month(month) AS idx FROM m)
             |SELECT mi.month, mi.rev,
             |  floor((mi.rev / p1.rev - 1) * 10000 + 0.5) / 10000 AS mom,
             |  floor((mi.rev / p12.rev - 1) * 10000 + 0.5) / 10000 AS yoy
             |FROM mi
             |LEFT JOIN mi p1 ON p1.idx = mi.idx - 1
             |LEFT JOIN mi p12 ON p12.idx = mi.idx - 12
             |ORDER BY mi.month""".stripMargin)),

    // ----- q113: the NATIVE session_window surface — Spark's built-in
    // gap-based session windows must agree with the hand-built q64
    // window algebra. The merge is NON-strict (Spark's
    // MergingSessionsIterator merges when sessionStart <= sessionEnd,
    // so an event arriving exactly gap after the last one still joins
    // the session) — the oracle mirrors with <=, the same boundary
    // rule as q64's. Span measured on exact integer microseconds.
    QueryDef(
      "q113_native_session_window",
      (s, d) => {
        import s.implicits._
        val sess = Tables.events(s, d)
          .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            (unix_micros(max($"ts")) - unix_micros(min($"ts"))).as("span_us"))
        sess.groupBy($"user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum($"n_events").as("n_events"),
            sum($"span_us").as("active_us"))
          .orderBy($"user_id")
      },
      Some("""WITH x AS (
             |  SELECT user_id, ts,
             |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
             |  FROM events),
             |y AS (
             |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
             |    ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM x),
             |sess AS (
             |  SELECT user_id, sid, count(*) AS n_events,
             |    epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
             |  FROM y GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_sessions,
             |  CAST(SUM(n_events) AS BIGINT) AS n_events,
             |  CAST(SUM(span_us) AS BIGINT) AS active_us
             |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ----- q114: inverted index materialized AS DATA — per term: df,
    // total tf, and the sorted posting list (capped at 20 entries for
    // the output; the full list is the same array uncapped). Postings
    // are sort_array'd — the Vocab order-stability convention.
    QueryDef(
      "q114_inverted_index",
      (s, d) => {
        import s.implicits._
        val tok = graft.Par.spread(Tables.documents(s, d))
          .select($"doc_id",
            explode(graft.functions.TextFunctions.spaceTokens($"text")).as("word"))
        tok.groupBy($"word", $"doc_id").agg(count(lit(1)).as("tf"))
          .groupBy($"word")
          .agg(count(lit(1)).as("df"),
            sum($"tf").as("total_tf"),
            slice(sort_array(collect_list($"doc_id")), 1, 20).as("postings"))
          .filter($"df" >= 50)
          .withColumn("postings", array_join(transform($"postings",
            x => x.cast("string")), ","))
          .orderBy($"df".desc, $"word")
      },
      Some("""WITH tf AS (
             |  SELECT word, doc_id, count(*) AS tf FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |    FROM documents)
             |  WHERE length(word) > 0 GROUP BY 1, 2)
             |SELECT word, count(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
             |  array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',')
             |    AS postings
             |FROM tf GROUP BY word HAVING count(*) >= 50
             |ORDER BY df DESC, word""".stripMargin)),

    // ----- q152: exact PHRASE search through the positional-postings
    // walk (operators/PhraseSearch) — the adjacency-aware member of
    // the retrieval family (q114 doc-level inverted index, q52
    // bag-of-words BM25): per-document occurrence count + first match
    // position for an exact word sequence. One relational join does
    // the phrase walk: each posting of term i votes (doc, pos − i);
    // an anchor covered by all k term indexes is a match. The oracle
    // replays positions via DuckDB's zip-unnest and the identical
    // vote-count rule.
    QueryDef(
      "q152_phrase_search",
      (s, d) => {
        import s.implicits._
        graft.operators.PhraseSearch.phraseMatches(
            Tables.documents(s, d), "doc_id", "text", Seq("fast", "table"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos,
             |    unnest(toks) AS word FROM t),
             |ph(i, w) AS (VALUES (0, 'fast'), (1, 'table')),
             |hits AS (
             |  SELECT p.doc_id, p.pos - ph.i AS anchor
             |  FROM pos p JOIN ph ON p.word = ph.w
             |  GROUP BY p.doc_id, p.pos - ph.i
             |  HAVING count(DISTINCT ph.i) = 2)
             |SELECT doc_id, count(*) AS n_hits,
             |  CAST(min(anchor) AS BIGINT) AS first_pos
             |FROM hits GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ----- q115: chi-square independence test of lang × source — the
    // contingency table, expected counts under independence, and the
    // χ² statistic, all in two aggregates and a broadcast of the
    // margin frames.
    QueryDef(
      "q115_chi_square",
      (s, d) => {
        import s.implicits._
        val obs = Tables.documents(s, d)
          .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
        val rowM = obs.groupBy($"lang").agg(sum($"o").as("n_lang"))
        val colM = obs.groupBy($"source").agg(sum($"o").as("n_source"))
        val tot = obs.agg(sum($"o").as("n"))
        obs.join(broadcast(rowM), "lang").join(broadcast(colM), "source")
          .crossJoin(tot)
          .withColumn("expected",
            $"n_lang".cast("double") * $"n_source" / $"n")
          .withColumn("chi2_term",
            ($"o" - $"expected") * ($"o" - $"expected") / $"expected")
          .agg(count(lit(1)).as("n_cells"),
            // χ² summed exactly: quantize terms to 2^-20 integers (the
            // q99/q108 order-free convention). 2^20, not 2^30: a χ²
            // term is bounded only by n (total rows), and term·2^30
            // would overflow long past n ≈ 8.6e9 — where Spark's cast
            // saturates while DuckDB errors. 2^20 pushes the bound to
            // n ≈ 8.8e12 at 1e-6 precision per cell.
            (sum(floor($"chi2_term" * 1048576L).cast("long")).cast("double")
              / 1048576L).as("chi2_raw"))
          .select($"n_cells",
            (floor($"chi2_raw" * 10000 + 0.5) / 10000).as("chi2"))
      },
      Some("""WITH obs AS (
             |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
             |rm AS (SELECT lang, SUM(o) AS n_lang FROM obs GROUP BY 1),
             |cm AS (SELECT source, SUM(o) AS n_source FROM obs GROUP BY 1),
             |tot AS (SELECT SUM(o) AS n FROM obs),
             |terms AS (
             |  SELECT (o - e) * (o - e) / e AS chi2_term FROM (
             |    SELECT o, CAST(n_lang AS DOUBLE) * n_source
             |      / (SELECT n FROM tot) AS e
             |    FROM obs JOIN rm USING (lang) JOIN cm USING (source)))
             |SELECT count(*) AS n_cells,
             |  floor(CAST(SUM(CAST(floor(chi2_term * 1048576) AS BIGINT))
             |      AS DOUBLE) / 1048576 * 10000 + 0.5) / 10000 AS chi2
             |FROM terms""".stripMargin)),

    // ----- q116: KL divergence of each source's language mix from the
    // corpus-wide mix — the domain-shift diagnostic a mixture
    // controller (q62) reads. Margin frames broadcast; the per-source
    // sum is ≤ |langs| terms.
    QueryDef(
      "q116_kl_divergence",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .groupBy($"source", $"lang").agg(count(lit(1)).as("o"))
        val bySrc = c.groupBy($"source").agg(sum($"o").as("n_src"))
        val byLang = c.groupBy($"lang").agg(sum($"o").as("n_lang"))
        val tot = c.agg(sum($"o").as("n"))
        c.join(broadcast(bySrc), "source").join(broadcast(byLang), "lang")
          .crossJoin(tot)
          .withColumn("term",
            ($"o".cast("double") / $"n_src") *
              log(($"o".cast("double") / $"n_src") /
                ($"n_lang".cast("double") / $"n")))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_langs"),
            (sum(floor($"term" * 1073741824L).cast("long")).cast("double")
              / 1073741824L).as("kl_raw"))
          .select($"source", $"n_langs",
            (floor($"kl_raw" * 10000 + 0.5) / 10000).as("kl"))
          .orderBy($"source")
      },
      Some("""WITH c AS (
             |  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
             |bs AS (SELECT source, SUM(o) AS n_src FROM c GROUP BY 1),
             |bl AS (SELECT lang, SUM(o) AS n_lang FROM c GROUP BY 1),
             |tot AS (SELECT SUM(o) AS n FROM c),
             |terms AS (
             |  SELECT source,
             |    (CAST(o AS DOUBLE) / n_src)
             |      * ln((CAST(o AS DOUBLE) / n_src)
             |          / (CAST(n_lang AS DOUBLE) / (SELECT n FROM tot))) AS term
             |  FROM c JOIN bs USING (source) JOIN bl USING (lang))
             |SELECT source, count(*) AS n_langs,
             |  floor(CAST(SUM(CAST(floor(term * 1073741824) AS BIGINT)) AS DOUBLE)
             |    / 1073741824 * 10000 + 0.5) / 10000 AS kl
             |FROM terms GROUP BY source ORDER BY source""".stripMargin)),

    // ----- q211: SCD Type-2 dimension build — collapse each
    // customer's order-priority sequence into validity intervals
    // (valid_from / valid_to half-open, NULL = current): the
    // slowly-changing-dimension constructor every warehouse load
    // needs, built from the classic gaps-and-islands run-id (a
    // lag-inequality marker prefix-summed per customer). q101 keeps
    // EVERY event as a version row + an as-of snapshot; this is the
    // complementary compaction step — only attribute CHANGES open a
    // new interval, which is what a dimension table stores. Windows are
    // partitioned by customer — never global — so the plan is one
    // hash shuffle on o_custkey and scales with customers, not rows.
    // Ordering inside a customer is (o_orderdate, o_orderkey):
    // unique, so the run segmentation is deterministic.
    QueryDef(
      "q211_scd2_dimension",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        val marked = Tables.orders(s, d)
          .select($"o_custkey", $"o_orderkey",
            $"o_orderdate".cast("date").as("o_orderdate"),
            $"o_orderpriority")
          .withColumn("chg",
            when(lag($"o_orderpriority", 1).over(w).isNull ||
              lag($"o_orderpriority", 1).over(w) =!= $"o_orderpriority", 1L)
              .otherwise(0L))
          .withColumn("run_id", sum($"chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val runs = marked.groupBy($"o_custkey", $"run_id", $"o_orderpriority")
          .agg(min($"o_orderdate").as("valid_from"),
            count(lit(1)).as("n_orders"))
        val w2 = Window.partitionBy($"o_custkey").orderBy($"run_id")
        runs
          .withColumn("valid_to", lead($"valid_from", 1).over(w2))
          .select($"o_custkey", $"run_id",
            $"o_orderpriority".as("priority"),
            // epoch-day BIGINTs, not DATE: the driver hash is dtype-
            // sensitive and date32-vs-DATE materializes differently
            // (the q188 lesson; q98's 1990-01-01 day epoch)
            datediff($"valid_from", lit("1990-01-01")).cast("long")
              .as("from_day"),
            datediff($"valid_to", lit("1990-01-01")).cast("long")
              .as("to_day"),
            $"n_orders",
            when($"valid_to".isNull, 1L).otherwise(0L).as("is_current"))
          .orderBy($"o_custkey", $"run_id")
      },
      Some("""WITH o AS (
             |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
             |    o_orderpriority,
             |    CASE WHEN lag(o_orderpriority) OVER
             |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |      IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS chg
             |  FROM orders),
             |m AS (
             |  SELECT o_custkey, o_orderkey, d, o_orderpriority,
             |    CAST(SUM(chg) OVER (PARTITION BY o_custkey
             |      ORDER BY d, o_orderkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS run_id
             |  FROM o),
             |runs AS (
             |  SELECT o_custkey, run_id, o_orderpriority AS priority,
             |    MIN(d) AS valid_from, CAST(count(*) AS BIGINT) AS n_orders
             |  FROM m GROUP BY 1, 2, 3),
             |iv AS (
             |  SELECT o_custkey, run_id, priority, valid_from,
             |    lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
             |      AS valid_to,
             |    n_orders
             |  FROM runs)
             |SELECT o_custkey, run_id, priority,
             |  CAST(date_diff('day', DATE '1990-01-01', valid_from) AS BIGINT)
             |    AS from_day,
             |  CAST(date_diff('day', DATE '1990-01-01', valid_to) AS BIGINT)
             |    AS to_day,
             |  n_orders,
             |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
             |FROM iv
             |ORDER BY o_custkey, run_id""".stripMargin)),

    // ----- q212: multi-touch attribution — for each user's FIRST
    // purchase, every earlier non-purchase event is a "touch"; credit
    // is assigned three ways at once (first-touch, last-touch, linear
    // 1/n split) and rolled up by channel (= event_type). The linear
    // split is integer ppm (floor(10⁶/n)) so the per-channel sums are
    // exact BIGINTs on both engines — a double 1/n sum would drift
    // with accumulation order. Touch order inside a user is
    // (ts, event_id): unique and replayed identically in the oracle's
    // row-wise comparisons. One user-keyed shuffle + channel-sized
    // aggregates — no window at all.
    QueryDef(
      "q212_attribution",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).select($"user_id", $"event_id",
          $"event_type", unix_micros($"ts").as("us"))
        val conv = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(min(struct($"us", $"event_id")).as("m"))
          .select($"user_id", $"m.us".as("cus"), $"m.event_id".as("cid"))
        val touches = ev.join(conv, "user_id")
          .filter($"event_type" =!= "purchase" &&
            ($"us" < $"cus" || ($"us" === $"cus" && $"event_id" < $"cid")))
          .select($"user_id", $"event_id", $"event_type", $"us")
        val perUser = touches.groupBy($"user_id").agg(
          count(lit(1)).as("nt"),
          min(struct($"us", $"event_id", $"event_type")).as("ft"),
          max(struct($"us", $"event_id", $"event_type")).as("lt"))
        val firsts = perUser.groupBy($"ft.event_type".as("channel"))
          .agg(count(lit(1)).as("n_first"))
        val lasts = perUser.groupBy($"lt.event_type".as("channel"))
          .agg(count(lit(1)).as("n_last"))
        val linear = touches
          .join(perUser.select($"user_id", $"nt"), "user_id")
          .groupBy($"event_type".as("channel"))
          .agg(count(lit(1)).as("n_touch"),
            sum(floor(lit(1000000.0) / $"nt").cast("long"))
              .as("credit_ppm"))
        linear
          .join(firsts, Seq("channel"), "left")
          .join(lasts, Seq("channel"), "left")
          .select($"channel", $"n_touch",
            coalesce($"n_first", lit(0L)).as("n_first"),
            coalesce($"n_last", lit(0L)).as("n_last"),
            $"credit_ppm")
          .orderBy($"channel")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
             |  FROM events),
             |cv AS (
             |  SELECT user_id, us AS cus, event_id AS cid FROM (
             |    SELECT user_id, us, event_id,
             |      row_number() OVER (PARTITION BY user_id
             |        ORDER BY us, event_id) AS rn
             |    FROM ev WHERE event_type = 'purchase') t
             |  WHERE rn = 1),
             |touches AS MATERIALIZED (
             |  SELECT e.user_id, e.event_id, e.event_type, e.us
             |  FROM ev e JOIN cv ON e.user_id = cv.user_id
             |  WHERE e.event_type <> 'purchase'
             |    AND (e.us < cv.cus OR (e.us = cv.cus AND e.event_id < cv.cid))),
             |pu AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS nt
             |  FROM touches GROUP BY 1),
             |ranked AS (
             |  SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS rn_a,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY us DESC, event_id DESC) AS rn_d
             |  FROM touches),
             |firsts AS (SELECT event_type AS channel,
             |             CAST(count(*) AS BIGINT) AS n_first
             |           FROM ranked WHERE rn_a = 1 GROUP BY 1),
             |lasts AS (SELECT event_type AS channel,
             |            CAST(count(*) AS BIGINT) AS n_last
             |          FROM ranked WHERE rn_d = 1 GROUP BY 1),
             |lin AS (
             |  SELECT t.event_type AS channel,
             |    CAST(count(*) AS BIGINT) AS n_touch,
             |    CAST(SUM(CAST(floor(1000000.0 / pu.nt) AS BIGINT))
             |      AS BIGINT) AS credit_ppm
             |  FROM touches t JOIN pu ON t.user_id = pu.user_id
             |  GROUP BY 1)
             |SELECT lin.channel, n_touch,
             |  coalesce(n_first, 0) AS n_first,
             |  coalesce(n_last, 0) AS n_last,
             |  credit_ppm
             |FROM lin
             |LEFT JOIN firsts ON lin.channel = firsts.channel
             |LEFT JOIN lasts ON lin.channel = lasts.channel
             |ORDER BY lin.channel""".stripMargin)),

    // ----- q231: item-item collaborative filtering — top-5 cosine
    // neighbors for the 20 most-purchased parts, from binary basket
    // vectors: sim(a,b) = n_ab/√(n_a·n_b) over q111's oriented
    // co-occurrence counts (the memory-based recommender table a
    // "customers also bought" surface reads). All counts exact; the
    // one sqrt is exactly-rounded IEEE, micro-snapped; ranking is a
    // per-part window (partitioned by item, never global) with the
    // (sim desc, neighbor) tie-break mirrored in both engines.
    QueryDef(
      "q231_item_item_cf",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_partkey").distinct().persist()
        val itemN = li.groupBy($"l_partkey").agg(count(lit(1)).as("n_item"))
        val top20 = itemN
          .orderBy($"n_item".desc, $"l_partkey").limit(20)
          .select($"l_partkey".as("item"), $"n_item".as("n_a"))
        // pair pruning (r10): only the 20 TRACKED items' basket rows
        // enter the co-occurrence self-join — a broadcast semi-join on
        // the tracked-id set before pair generation, so neither the
        // pair frame nor its groupBy ever touches the ~99% of
        // part×part pairs with no tracked endpoint (the dominant cost
        // at 100×; previously all pairs were counted then dropped).
        // n_ab = |common orders| is unchanged: each (tracked item,
        // co-item) order pair appears exactly once in the join.
        val sym = li
          .join(broadcast(top20.select($"item".as("l_partkey"))), "l_partkey")
          .select($"l_orderkey", $"l_partkey".as("item"))
          .join(li, "l_orderkey")
          .filter($"l_partkey" =!= $"item")
          .select($"item", $"l_partkey".as("nbr"))
          .groupBy($"item", $"nbr").agg(count(lit(1)).as("n_ab"))
        val scored = sym.join(top20, "item")
          .join(itemN.select($"l_partkey".as("nbr"), $"n_item".as("n_b")), "nbr")
          .select($"item", $"nbr", $"n_ab", $"n_a", $"n_b",
            floor($"n_ab".cast("double") * 1000000
              / sqrt($"n_a".cast("double") * $"n_b") + lit(0.5))
              .cast("long").as("sim_micro"))
        val w = Window.partitionBy($"item")
          .orderBy($"sim_micro".desc, $"nbr")
        scored.withColumn("rnk", row_number().over(w).cast("long"))
          .filter($"rnk" <= 5)
          .select($"item", $"rnk", $"nbr", $"n_ab", $"sim_micro")
          .orderBy($"item", $"rnk")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
             |         FROM li GROUP BY 1),
             |pairs AS (
             |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             |    CAST(count(*) AS BIGINT) AS n_ab
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |   AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2),
             |sym AS (SELECT pa AS item, pb AS nbr, n_ab FROM pairs
             |        UNION ALL SELECT pb, pa, n_ab FROM pairs),
             |top20 AS (
             |  SELECT l_partkey AS item, n_item AS n_a FROM item
             |  ORDER BY n_item DESC, l_partkey LIMIT 20),
             |scored AS (
             |  SELECT s.item, s.nbr, s.n_ab,
             |    CAST(floor(CAST(s.n_ab AS DOUBLE) * 1000000
             |      / sqrt(CAST(t.n_a AS DOUBLE) * i.n_item) + 0.5) AS BIGINT)
             |      AS sim_micro
             |  FROM sym s JOIN top20 t ON s.item = t.item
             |  JOIN item i ON s.nbr = i.l_partkey),
             |ranked AS (
             |  SELECT item, nbr, n_ab, sim_micro,
             |    CAST(row_number() OVER (PARTITION BY item
             |      ORDER BY sim_micro DESC, nbr) AS BIGINT) AS rnk
             |  FROM scored)
             |SELECT item, rnk, nbr, n_ab, sim_micro
             |FROM ranked WHERE rnk <= 5
             |ORDER BY item, rnk""".stripMargin)),

    // ----- q240: difference-in-differences — the experimentation
    // family's panel estimator next to q187 (two-sample test), q213
    // (sequential), q212 (attribution): users hash-split into
    // treat/control (the three-surface Sampling hash, salt 240), the
    // event window split at 2024-01-16 into pre/post, per-user
    // milli-value sums exact BIGINT, and the 2×2 cell means + DiD
    // assembled in ONE fixed double expression micro-snapped at the
    // end (the q219 moment discipline — no float accumulation).
    QueryDef(
      "q240_diff_in_diff",
      (s, d) => {
        import s.implicits._
        val split = lit("2024-01-16").cast("timestamp")
        val per = Tables.events(s, d)
          .select($"user_id", ($"ts" < split).as("pre"),
            floor($"value" * 1000 + lit(0.5)).cast("long").as("vm"))
          .groupBy($"user_id")
          .agg(sum(when($"pre", $"vm").otherwise(0L)).as("x"),
            sum(when(!$"pre", $"vm").otherwise(0L)).as("y"))
        val armed = per.withColumn("treat",
          (graft.operators.Sampling.hashFraction($"user_id", 240L) < 0.5)
            .cast("int"))
        val cells = armed.groupBy($"treat")
          .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"))
        val t = cells.filter($"treat" === 1)
          .select($"n".as("n_treat"), $"sx".as("stq"), $"sy".as("stp"))
        val c = cells.filter($"treat" === 0)
          .select($"n".as("n_ctl"), $"sx".as("scq"), $"sy".as("scp"))
        def cellMean(s0: Column, n0: Column): Column =
          floor(s0.cast("double") / n0 + lit(0.5)).cast("long")
        t.crossJoin(c).select($"n_treat", $"n_ctl",
          cellMean($"stq", $"n_treat").as("m_treat_pre_milli"),
          cellMean($"stp", $"n_treat").as("m_treat_post_milli"),
          cellMean($"scq", $"n_ctl").as("m_ctl_pre_milli"),
          cellMean($"scp", $"n_ctl").as("m_ctl_post_milli"),
          floor((($"stp".cast("double") - $"stq".cast("double")) / $"n_treat"
            - ($"scp".cast("double") - $"scq".cast("double")) / $"n_ctl")
            * 1000.0 + lit(0.5)).cast("long").as("did_micro"))
      },
      Some {
        val frac = graft.operators.Sampling.hashFractionSql("user_id", 240L)
        s"""WITH per AS (
           |  SELECT user_id,
           |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
           |      THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
           |      ELSE 0 END) AS BIGINT) AS x,
           |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
           |      THEN 0
           |      ELSE CAST(floor(value * 1000 + 0.5) AS BIGINT) END)
           |      AS BIGINT) AS y
           |  FROM events GROUP BY 1),
           |armed AS (
           |  SELECT user_id, x, y,
           |    CASE WHEN $frac < 0.5 THEN 1 ELSE 0 END AS treat
           |  FROM per),
           |cells AS (
           |  SELECT treat, CAST(count(*) AS BIGINT) AS n,
           |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
           |  FROM armed GROUP BY 1),
           |t AS (SELECT n AS n_treat, sx AS stq, sy AS stp FROM cells
           |      WHERE treat = 1),
           |c AS (SELECT n AS n_ctl, sx AS scq, sy AS scp FROM cells
           |      WHERE treat = 0)
           |SELECT n_treat, n_ctl,
           |  CAST(floor(CAST(stq AS DOUBLE) / n_treat + 0.5) AS BIGINT)
           |    AS m_treat_pre_milli,
           |  CAST(floor(CAST(stp AS DOUBLE) / n_treat + 0.5) AS BIGINT)
           |    AS m_treat_post_milli,
           |  CAST(floor(CAST(scq AS DOUBLE) / n_ctl + 0.5) AS BIGINT)
           |    AS m_ctl_pre_milli,
           |  CAST(floor(CAST(scp AS DOUBLE) / n_ctl + 0.5) AS BIGINT)
           |    AS m_ctl_post_milli,
           |  CAST(floor(((CAST(stp AS DOUBLE) - CAST(stq AS DOUBLE)) / n_treat
           |    - (CAST(scp AS DOUBLE) - CAST(scq AS DOUBLE)) / n_ctl)
           |    * 1000.0 + 0.5) AS BIGINT) AS did_micro
           |FROM t CROSS JOIN c""".stripMargin
      }),

    // ----- q233: CUPED variance reduction (Deng et al. 2013) — the
    // experiment-sensitivity member: the pre-period metric is the
    // covariate, θ = cov(x,y)/var(x) from exact BIGINT moment sums
    // (one fixed double assembly, micro-snapped ONCE), each user's
    // adjusted outcome y − θ(x − x̄) snapped to micro BIGINT through
    // one fixed double expression, then exact integer per-arm sums —
    // so the adjusted means and the achieved variance ratio are
    // bit-replayable cross-engine. Same split/hash as q240.
    QueryDef(
      "q233_cuped",
      (s, d) => {
        import s.implicits._
        val split = lit("2024-01-16").cast("timestamp")
        val per = Tables.events(s, d)
          .select($"user_id", ($"ts" < split).as("pre"),
            floor($"value" * 1000 + lit(0.5)).cast("long").as("vm"))
          .groupBy($"user_id")
          .agg(sum(when($"pre", $"vm").otherwise(0L)).as("x"),
            sum(when(!$"pre", $"vm").otherwise(0L)).as("y"))
          .transform(graft.operators.Iterate.truncate)   // feeds moments + the adjusted scan
        val mom = per.agg(count(lit(1)).as("n"),
          sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
          sum($"y" * $"y").as("syy"))
        val par = mom.select($"n", $"sx",
          floor(($"n".cast("double") * $"sxy".cast("double")
              - $"sx".cast("double") * $"sy".cast("double"))
            / ($"n".cast("double") * $"sxx".cast("double")
              - $"sx".cast("double") * $"sx".cast("double"))
            * 1000000.0 + lit(0.5)).cast("long").as("theta_micro"),
          floor(($"n".cast("double") * $"sxy".cast("double")
              - $"sx".cast("double") * $"sy".cast("double"))
            * ($"n".cast("double") * $"sxy".cast("double")
              - $"sx".cast("double") * $"sy".cast("double"))
            / (($"n".cast("double") * $"sxx".cast("double")
              - $"sx".cast("double") * $"sx".cast("double"))
              * ($"n".cast("double") * $"syy".cast("double")
              - $"sy".cast("double") * $"sy".cast("double")))
            * 1000.0 + lit(0.5)).cast("long").as("rho2_milli"))
        val adj = per.crossJoin(par)
          .select($"user_id", $"y",
            (graft.operators.Sampling.hashFraction($"user_id", 240L) < 0.5)
              .cast("int").as("treat"),
            $"theta_micro", $"rho2_milli",
            floor(($"y".cast("double") / 1000.0
              - $"theta_micro".cast("double") / 1000000.0
                * ($"x".cast("double") / 1000.0
                  - $"sx".cast("double") / 1000.0 / $"n"))
              * 1000000.0 + lit(0.5)).cast("long").as("adj_micro"))
        adj.groupBy($"treat")
          .agg(count(lit(1)).as("n_users"),
            sum($"y").as("sy_arm"), sum($"adj_micro").as("sadj"),
            max($"theta_micro").as("theta_micro"),
            max($"rho2_milli").as("rho2_milli"))
          .select($"treat", $"n_users",
            floor($"sy_arm".cast("double") * 1000.0 / $"n_users" + lit(0.5))
              .cast("long").as("mean_y_micro"),
            floor($"sadj".cast("double") / $"n_users" + lit(0.5))
              .cast("long").as("mean_adj_micro"),
            $"theta_micro", $"rho2_milli")
          .orderBy($"treat")
      },
      Some {
        val frac = graft.operators.Sampling.hashFractionSql("user_id", 240L)
        s"""WITH per AS MATERIALIZED (
           |  SELECT user_id,
           |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
           |      THEN CAST(floor(value * 1000 + 0.5) AS BIGINT)
           |      ELSE 0 END) AS BIGINT) AS x,
           |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
           |      THEN 0
           |      ELSE CAST(floor(value * 1000 + 0.5) AS BIGINT) END)
           |      AS BIGINT) AS y
           |  FROM events GROUP BY 1),
           |mom AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           |    CAST(SUM(x * y) AS BIGINT) AS sxy,
           |    CAST(SUM(x * x) AS BIGINT) AS sxx,
           |    CAST(SUM(y * y) AS BIGINT) AS syy
           |  FROM per),
           |par AS (
           |  SELECT n, sx,
           |    CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           |      * 1000000.0 + 0.5) AS BIGINT) AS theta_micro,
           |    CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           |      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           |      * 1000.0 + 0.5) AS BIGINT) AS rho2_milli
           |  FROM mom),
           |adj AS (
           |  SELECT p.user_id, p.y,
           |    CASE WHEN $frac < 0.5 THEN 1 ELSE 0 END AS treat,
           |    pa.theta_micro, pa.rho2_milli,
           |    CAST(floor((CAST(p.y AS DOUBLE) / 1000.0
           |      - CAST(pa.theta_micro AS DOUBLE) / 1000000.0
           |        * (CAST(p.x AS DOUBLE) / 1000.0
           |          - CAST(pa.sx AS DOUBLE) / 1000.0 / pa.n))
           |      * 1000000.0 + 0.5) AS BIGINT) AS adj_micro
           |  FROM per p CROSS JOIN par pa),
           |arms AS (
           |  SELECT treat, CAST(count(*) AS BIGINT) AS n_users,
           |    CAST(SUM(y) AS BIGINT) AS sy_arm,
           |    CAST(SUM(adj_micro) AS BIGINT) AS sadj,
           |    CAST(MAX(theta_micro) AS BIGINT) AS theta_micro,
           |    CAST(MAX(rho2_milli) AS BIGINT) AS rho2_milli
           |  FROM adj GROUP BY 1)
           |SELECT treat, n_users,
           |  CAST(floor(CAST(sy_arm AS DOUBLE) * 1000.0 / n_users + 0.5)
           |    AS BIGINT) AS mean_y_micro,
           |  CAST(floor(CAST(sadj AS DOUBLE) / n_users + 0.5) AS BIGINT)
           |    AS mean_adj_micro,
           |  theta_micro, rho2_milli
           |FROM arms ORDER BY treat""".stripMargin
      }),

    // ----- q257: sequential basket pairs — "bought A, then bought B
    // within 30 days" directional rules, the TEMPORAL counterpart to
    // q111's within-basket association rules (q111 can't distinguish
    // A-then-B from B-then-A; replenishment/upgrade patterns are
    // directional). Distinct (customer, part, day) purchases self-join
    // per customer (cust-keyed shuffle; per-customer history is
    // bounded, so the pair frame is Σ_c |h_c|², never corpus²),
    // customer-distinct counts, confidence + lift snapped milli,
    // support floor 2 (repeat-customer evidence; the synthetic
    // purchase histories are sparse), top-50 by (lift, pa, pb).
    QueryDef(
      "q257_sequential_baskets",
      (s, d) => {
        import s.implicits._
        val po = Tables.orders(s, d)
          .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
          .select($"o_custkey".as("cust"), $"l_partkey".as("part"),
            datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
              .cast("long").as("day"))
          .distinct()
          .transform(graft.operators.Iterate.truncate)
        val ncust = po.select($"cust").distinct().count()
        val supp = po.groupBy($"part")
          .agg(countDistinct($"cust").as("n_supp"))
        val pairs = po.as("a").join(po.as("b"),
            $"a.cust" === $"b.cust" && $"a.part" =!= $"b.part"
              && $"b.day" > $"a.day" && $"b.day" <= $"a.day" + 30)
          .groupBy($"a.part".as("pa"), $"b.part".as("pb"))
          .agg(countDistinct($"a.cust").as("n_ab"))
          .filter($"n_ab" >= 2)
        pairs
          .join(supp.select($"part".as("pa"), $"n_supp".as("n_a")), "pa")
          .join(supp.select($"part".as("pb"), $"n_supp".as("n_b")), "pb")
          .select($"pa", $"pb", $"n_ab", $"n_a", $"n_b",
            floor($"n_ab".cast("double") * 1000.0 / $"n_a" + lit(0.5))
              .cast("long").as("conf_milli"),
            floor($"n_ab".cast("double") * ncust * 1000.0
              / ($"n_a".cast("double") * $"n_b") + lit(0.5))
              .cast("long").as("lift_milli"))
          .orderBy($"lift_milli".desc, $"pa", $"pb")
          .limit(50)
      },
      Some("""WITH po AS MATERIALIZED (
             |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part,
             |    datediff('day', DATE '1995-01-01',
             |      CAST(o.o_orderdate AS DATE)) AS day
             |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
             |nc AS (SELECT CAST(count(DISTINCT cust) AS BIGINT) AS ncust FROM po),
             |supp AS (
             |  SELECT part, CAST(count(DISTINCT cust) AS BIGINT) AS n_supp
             |  FROM po GROUP BY 1),
             |pairs AS (
             |  SELECT a.part AS pa, b.part AS pb,
             |    CAST(count(DISTINCT a.cust) AS BIGINT) AS n_ab
             |  FROM po a JOIN po b ON a.cust = b.cust AND a.part <> b.part
             |   AND b.day > a.day AND b.day <= a.day + 30
             |  GROUP BY 1, 2 HAVING count(DISTINCT a.cust) >= 2)
             |SELECT p.pa, p.pb, p.n_ab, sa.n_supp AS n_a, sb.n_supp AS n_b,
             |  CAST(floor(CAST(p.n_ab AS DOUBLE) * 1000.0 / sa.n_supp + 0.5)
             |    AS BIGINT) AS conf_milli,
             |  CAST(floor(CAST(p.n_ab AS DOUBLE) * nc.ncust * 1000.0
             |    / (CAST(sa.n_supp AS DOUBLE) * sb.n_supp) + 0.5) AS BIGINT)
             |    AS lift_milli
             |FROM pairs p
             |JOIN supp sa ON p.pa = sa.part
             |JOIN supp sb ON p.pb = sb.part
             |CROSS JOIN nc
             |ORDER BY lift_milli DESC, pa, pb LIMIT 50""".stripMargin)),

    // ----- q258: RFM segmentation — recency/frequency/monetary
    // quintiles per customer, rolled up to the ≤125 (r, f, m) segment
    // cells. Each quintile is GlobalOrder.ntileRank over an exact
    // total order (metric, custkey) — three two-pass tile
    // assignments, never a global ntile window (the q91/q243
    // discipline); monetary is the exact decimal cents sum. Quintile
    // convention: 5 = best (most recent / most frequent / highest
    // spend), so recency ranks ascending-days DESCENDING tile.
    QueryDef(
      "q258_rfm_segments",
      (s, d) => {
        import s.implicits._
        val base = Tables.orders(s, d)
          .select($"o_custkey",
            datediff(lit("2001-08-02").cast("date"), to_date($"o_orderdate"))
              .cast("long").as("age"),
            dec($"o_totalprice").as("tp"))
          .groupBy($"o_custkey")
          .agg(min($"age").as("rec_days"), count(lit(1)).as("n_orders"),
            sum($"tp").as("mon"))
          .select($"o_custkey", $"rec_days", $"n_orders",
            ($"mon" * 100).cast("long").as("mon_cents"))
          .transform(graft.operators.Iterate.truncate)
        val withR = graft.operators.GlobalOrder.ntileRank(
          base, Seq($"rec_days".desc, $"o_custkey"), 5, "r")
        val withF = graft.operators.GlobalOrder.ntileRank(
          withR, Seq($"n_orders", $"o_custkey"), 5, "f")
        val withM = graft.operators.GlobalOrder.ntileRank(
          withF, Seq($"mon_cents", $"o_custkey"), 5, "m")
        withM.groupBy($"r", $"f", $"m")
          .agg(count(lit(1)).as("n_customers"),
            sum($"mon_cents").as("cell_cents"))
          .orderBy($"r", $"f", $"m")
      },
      Some("""WITH base AS MATERIALIZED (
             |  SELECT o_custkey,
             |    MIN(datediff('day', CAST(o_orderdate AS DATE),
             |      DATE '2001-08-02')) AS rec_days,
             |    CAST(count(*) AS BIGINT) AS n_orders,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             |      AS mon_cents
             |  FROM orders GROUP BY 1),
             |t AS (
             |  SELECT o_custkey, rec_days, n_orders, mon_cents,
             |    CAST(ntile(5) OVER (ORDER BY rec_days DESC, o_custkey)
             |      AS BIGINT) AS r,
             |    CAST(ntile(5) OVER (ORDER BY n_orders, o_custkey)
             |      AS BIGINT) AS f,
             |    CAST(ntile(5) OVER (ORDER BY mon_cents, o_custkey)
             |      AS BIGINT) AS m
             |  FROM base)
             |SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_customers,
             |  CAST(SUM(mon_cents) AS BIGINT) AS cell_cents
             |FROM t GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin)),

    // ----- q256: Markov-chain attribution with removal effects
    // (Anderl et al. 2016) — the data-driven counterpart to q212's
    // heuristic (first/last/linear) credits: user journeys become a
    // START→channels→{CONV, DROP} chain, channel credit = how much
    // the chain's conversion probability falls when that channel is
    // knocked out. Transition probabilities are milli-snapped floor
    // divisions of exact counts; conversion probability is 8 fixed
    // value-iteration rounds of PURE INTEGER algebra (milli products,
    // floor-div 1000), run once intact and once per removed channel.
    // The data-sized work (ordering journeys, counting transitions)
    // is distributed; the ≤5×6 transition matrix is driver-bounded
    // model state (the LogReg/KMeans convention), and the oracle
    // replays the ENTIRE recurrence — all five variants' eight rounds
    // — in unrolled CTEs.
    QueryDef(
      "q256_markov_attribution",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val chs = Seq("click", "error", "signup", "view")
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val seqd = Tables.events(s, d)
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("rn", row_number().over(w).cast("long"))
        val firstP = seqd.filter($"event_type" === "purchase")
          .groupBy($"user_id").agg(min($"rn").as("prn"))
        val j = seqd.join(firstP, Seq("user_id"), "left")
          .filter($"event_type" =!= "purchase"
            && ($"prn".isNull || $"rn" < $"prn"))
          .withColumn("conv", $"prn".isNotNull)
          .transform(graft.operators.Iterate.truncate)
        val w2 = Window.partitionBy($"user_id").orderBy($"rn")
        val inner = j.select(
            coalesce(lag($"event_type", 1).over(w2), lit("START")).as("src"),
            $"event_type".as("dst"))
        val lastCh = j.groupBy($"user_id").agg(max($"rn").as("lrn"))
        val term = j.join(lastCh, "user_id").filter($"rn" === $"lrn")
          .select($"event_type".as("src"),
            when($"conv", "CONV").otherwise("DROP").as("dst"))
        val direct = firstP
          .join(j.select($"user_id").distinct(), Seq("user_id"), "left_anti")
          .select(lit("START").as("src"), lit("CONV").as("dst"))
        val edges = inner.unionAll(term).unionAll(direct)
          .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
        // ≤ 5×6 rows: driver-bounded model state, never data-sized
        val nmap = edges.collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        val states = "START" +: chs
        val pmilli: Map[String, Map[String, Long]] = states.map { s0 =>
          val row = nmap.collect { case ((a, b), n) if a == s0 => b -> n }
          val rs = row.values.sum
          s0 -> (if (rs == 0L) Map.empty[String, Long]
                 else row.map { case (b, n) =>
                   b -> math.floor(n * 1000.0 / rs).toLong }.toMap)
        }.toMap
        def absorb(removed: Option[String]): Long = {
          var a = states.map(_ -> 0L).toMap
          for (_ <- 1 to 8) {
            a = states.map { s0 =>
              if (removed.contains(s0)) s0 -> 0L
              else {
                val row = pmilli(s0)
                val sum = chs.filter(c => !removed.contains(c))
                  .map(c => row.getOrElse(c, 0L) * a(c)).sum
                s0 -> (math.floorDiv(sum, 1000L) + row.getOrElse("CONV", 0L))
              }
            }.toMap
          }
          a("START")
        }
        val aF = absorb(None)
        val res = chs.map { c =>
          val aR = absorb(Some(c))
          val re = if (aF == 0L) 0L
            else math.floor((aF - aR) * 1000.0 / aF + 0.5).toLong
          (c, aF, aR, re)
        }
        val sre = res.map(_._4).sum
        res.map { case (c, f, r, re) =>
          val share = if (sre == 0L) 0L
            else math.floor(re * 1000.0 / sre + 0.5).toLong
          (c, f, r, re, share)
        }.toDF("channel", "a_full_milli", "a_removed_milli", "re_milli",
          "share_milli")
          .orderBy($"channel")
      },
      Some {
        val chs = Seq("click", "error", "signup", "view")
        val chList = chs.map(c => s"'$c'").mkString(", ")
        // variant sentinel '' = nothing removed
        def iters(v: String, removed: String): String =
          (1 to 8).map { t =>
            s"""a$v$t AS MATERIALIZED (
               |  SELECT st.s,
               |    CASE WHEN st.s = '$removed' THEN 0 ELSE
               |      COALESCE((SELECT CAST(SUM(p.pm * ax.a) AS BIGINT)
               |        FROM p JOIN a$v${t - 1} ax ON p.dst = ax.s
               |        WHERE p.src = st.s AND p.dst IN ($chList)
               |          AND p.dst <> '$removed'), 0) // 1000
               |      + COALESCE((SELECT pm FROM p
               |          WHERE src = st.s AND dst = 'CONV'), 0)
               |    END AS a
               |  FROM states st)""".stripMargin
          }.mkString(",\n")
        val variants = ("f" -> "") +: chs.map(c => s"r_$c" -> c)
        val allIters = variants.map { case (v, rm) =>
          s"""a${v}0 AS (SELECT s, 0::BIGINT AS a FROM states),
             |${iters(v, rm)}""".stripMargin
        }.mkString(",\n")
        val reRows = chs.map { c =>
          s"""SELECT '$c' AS channel,
             |  (SELECT a FROM af8 WHERE s = 'START') AS a_full_milli,
             |  (SELECT a FROM ar_${c}8 WHERE s = 'START') AS a_removed_milli""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH seqd AS MATERIALIZED (
           |  SELECT user_id, event_type,
           |    CAST(row_number() OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS BIGINT) AS rn
           |  FROM events),
           |firstp AS (
           |  SELECT user_id, MIN(rn) AS prn FROM seqd
           |  WHERE event_type = 'purchase' GROUP BY 1),
           |j AS MATERIALIZED (
           |  SELECT s.user_id, s.event_type, s.rn, f.prn IS NOT NULL AS conv
           |  FROM seqd s LEFT JOIN firstp f ON s.user_id = f.user_id
           |  WHERE s.event_type <> 'purchase'
           |    AND (f.prn IS NULL OR s.rn < f.prn)),
           |inner_e AS (
           |  SELECT COALESCE(lag(event_type, 1) OVER (PARTITION BY user_id
           |      ORDER BY rn), 'START') AS src,
           |    event_type AS dst
           |  FROM j),
           |term AS (
           |  SELECT j.event_type AS src,
           |    CASE WHEN j.conv THEN 'CONV' ELSE 'DROP' END AS dst
           |  FROM j JOIN (SELECT user_id, MAX(rn) AS lrn FROM j GROUP BY 1) l
           |    ON j.user_id = l.user_id AND j.rn = l.lrn),
           |direct AS (
           |  SELECT 'START' AS src, 'CONV' AS dst FROM firstp f
           |  WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.user_id = f.user_id)),
           |edges AS (
           |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
           |    SELECT src, dst FROM inner_e
           |    UNION ALL SELECT src, dst FROM term
           |    UNION ALL SELECT src, dst FROM direct)
           |  GROUP BY 1, 2),
           |rs AS (SELECT src, CAST(SUM(n) AS BIGINT) AS rsum
           |       FROM edges GROUP BY 1),
           |p AS MATERIALIZED (
           |  SELECT e.src, e.dst,
           |    CAST(floor(e.n * 1000.0 / r.rsum) AS BIGINT) AS pm
           |  FROM edges e JOIN rs r ON e.src = r.src),
           |states AS (SELECT unnest(['START', $chList]) AS s),
           |$allIters,
           |re AS MATERIALIZED (
           |  SELECT channel, a_full_milli, a_removed_milli,
           |    CASE WHEN a_full_milli = 0 THEN 0
           |      ELSE CAST(floor((a_full_milli - a_removed_milli) * 1000.0
           |        / a_full_milli + 0.5) AS BIGINT) END AS re_milli
           |  FROM ($reRows)),
           |sre AS (SELECT CAST(SUM(re_milli) AS BIGINT) AS t FROM re)
           |SELECT r.channel, r.a_full_milli, r.a_removed_milli, r.re_milli,
           |  CASE WHEN z.t = 0 THEN 0
           |    ELSE CAST(floor(r.re_milli * 1000.0 / z.t + 0.5) AS BIGINT)
           |  END AS share_milli
           |FROM re r CROSS JOIN sre z
           |ORDER BY r.channel""".stripMargin
      }),

    // ----- q294: rank-1 ALS factorization of the customer × part
    // quantity matrix (operators.Als) — the RECOMMENDER member: u_c
    // is customer appetite, v_p item pull, and the residual is the
    // personalization signal. All-integer alternating updates
    // (milli factors, positive DIV ≡ //), so the 3-round training
    // curve — factor-mass sums + exact SSE — replays in unrolled
    // CTEs with zero tolerance.
    QueryDef(
      "q294_als_rank1",
      (s, d) => {
        import s.implicits._
        val cells = Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            $"l_orderkey" === $"o_orderkey")
          .select($"o_custkey".as("c"), $"l_partkey".as("p"),
            floor($"l_quantity" * 100 + lit(0.5)).cast("long").as("rq"))
          .groupBy($"c", $"p").agg(sum($"rq").as("r"))
        graft.operators.Als.fitRank1(cells, "c", "p", "r", rounds = 3)
          .toDF("round", "su", "sv", "sse")
          .orderBy($"round")
      },
      Some {
        def round(t: Int): String =
          s"""u$t AS MATERIALIZED (
             |  SELECT c, (CAST(SUM(r * vm) AS BIGINT) * 1000000)
             |      // CAST(SUM(vm * vm) AS BIGINT) AS um
             |  FROM cells JOIN v${t - 1} USING (p) GROUP BY c),
             |v$t AS MATERIALIZED (
             |  SELECT p, (CAST(SUM(r * um) AS BIGINT) * 1000000)
             |      // CAST(SUM(um * um) AS BIGINT) AS vm
             |  FROM cells JOIN u$t USING (c) GROUP BY p),
             |s$t AS (SELECT CAST($t AS BIGINT) AS round,
             |  (SELECT CAST(SUM(um) AS BIGINT) FROM u$t) AS su,
             |  (SELECT CAST(SUM(vm) AS BIGINT) FROM v$t) AS sv,
             |  (SELECT CAST(SUM(e * e) AS BIGINT) FROM (
             |     SELECT r - (um * vm) // 1000000 AS e
             |     FROM cells JOIN u$t USING (c) JOIN v$t USING (p)))
             |    AS sse)""".stripMargin
        s"""WITH cells AS MATERIALIZED (
           |  SELECT CAST(o.o_custkey AS BIGINT) AS c,
           |    CAST(l.l_partkey AS BIGINT) AS p,
           |    CAST(SUM(CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT))
           |      AS BIGINT) AS r
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  GROUP BY 1, 2),
           |v0 AS (SELECT DISTINCT p, CAST(1000 AS BIGINT) AS vm FROM cells),
           |${(1 to 3).map(round).mkString(",\n")}
           |SELECT * FROM (
           |  SELECT * FROM s1 UNION ALL
           |  SELECT * FROM s2 UNION ALL
           |  SELECT * FROM s3)
           |ORDER BY round""".stripMargin
      }),

    // ----- q330: cohort lifetime-value curve — the MONEY dimension
    // q98's cohort retention (user counts) leaves out: per first-
    // order-month cohort and month age, active users, period
    // revenue, the running cumulative, and cumulative revenue per
    // cohort member (the LTV curve a growth team actually plots).
    // Cohort sizes and revenue are exact cents; the running sum is
    // a cohort-PARTITIONED window; LTV-per-user is an exact integer
    // cents division (positives).
    QueryDef(
      "q330_cohort_ltv",
      (s, d) => {
        import s.implicits._
        val ord = Tables.orders(s, d).select($"o_custkey",
          trunc(to_date($"o_orderdate"), "month").as("m"),
          floor($"o_totalprice" * 100 + lit(0.5)).cast("long").as("cents"))
          .transform(graft.operators.Iterate.truncate) // cohort-assign + activity legs read it
        val fm = ord.groupBy($"o_custkey").agg(min($"m").as("cohort"))
        val sizes = fm.groupBy($"cohort")
          .agg(count(lit(1)).as("cohort_size"))
        val act = ord.join(fm, "o_custkey")
          .withColumn("age",
            (year($"m") - year($"cohort")) * 12
              + (month($"m") - month($"cohort")))
          .groupBy($"cohort", $"age").agg(
            count_distinct($"o_custkey").as("n_active"),
            sum($"cents").as("rev_cents"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"cohort").orderBy($"age")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        act.withColumn("cum_cents", sum($"rev_cents").over(w))
          .join(sizes, "cohort")
          .select($"cohort", $"age", $"n_active", $"rev_cents",
            $"cum_cents", $"cohort_size",
            expr("cum_cents DIV cohort_size").as("ltv_cents_per_user"))
          .orderBy($"cohort", $"age")
      },
      Some("""WITH ord AS (
             |  SELECT o_custkey,
             |    CAST(date_trunc('month', CAST(o_orderdate AS DATE))
             |      AS DATE) AS m,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders),
             |fm AS (SELECT o_custkey, MIN(m) AS cohort
             |       FROM ord GROUP BY 1),
             |sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT)
             |    AS cohort_size
             |  FROM fm GROUP BY 1),
             |act AS (
             |  SELECT f.cohort,
             |    (year(o.m) - year(f.cohort)) * 12
             |      + (month(o.m) - month(f.cohort)) AS age,
             |    CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
             |    CAST(SUM(o.cents) AS BIGINT) AS rev_cents
             |  FROM ord o JOIN fm f ON f.o_custkey = o.o_custkey
             |  GROUP BY 1, 2),
             |cum AS (
             |  SELECT cohort, age, n_active, rev_cents,
             |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_cents
             |  FROM act)
             |SELECT c.cohort, c.age, c.n_active, c.rev_cents,
             |  c.cum_cents, s.cohort_size,
             |  c.cum_cents // s.cohort_size AS ltv_cents_per_user
             |FROM cum c JOIN sizes s ON s.cohort = c.cohort
             |ORDER BY c.cohort, c.age""".stripMargin)),

    // ----- q333: signup→purchase conversion lag — the DURATION
    // dimension q87's funnel (step counts) leaves out: per user the
    // days from first signup to first subsequent purchase, with the
    // exact lag quantiles (the q105 percentile ≡ quantile_cont
    // parity) and the converter count. One events scan; the quantile
    // aggregate runs over the converter frame only.
    QueryDef(
      "q333_conversion_lag",
      (s, d) => {
        import s.implicits._
        val per = Tables.events(s, d).groupBy($"user_id").agg(
          min(when($"event_type" === "signup", $"ts")).as("s"),
          min(when($"event_type" === "purchase", $"ts")).as("p"))
          .transform(graft.operators.Iterate.truncate) // signup-count + converter legs read it
        val conv = per
          .filter($"s".isNotNull && $"p".isNotNull && $"p" >= $"s")
          .select(datediff(to_date($"p"), to_date($"s"))
            .cast("long").as("lag"))
        val sg = per.filter($"s".isNotNull)
          .agg(count(lit(1)).as("n_signup"))
        val r4 = graft.functions.TextFunctions.r4 _
        val qs = conv.agg(count(lit(1)).as("n_converters"),
          percentile($"lag",
            array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))).as("qv"))
        sg.crossJoin(qs).select($"n_signup", $"n_converters",
          r4(element_at($"qv", 1)).as("q25"),
          r4(element_at($"qv", 2)).as("median"),
          r4(element_at($"qv", 3)).as("q75"),
          r4(element_at($"qv", 4)).as("p90"))
      },
      Some("""WITH per AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s,
             |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
             |  FROM events GROUP BY 1),
             |conv AS (
             |  SELECT CAST(date_diff('day', CAST(s AS DATE), CAST(p AS DATE))
             |    AS BIGINT) AS lag
             |  FROM per WHERE s IS NOT NULL AND p IS NOT NULL AND p >= s),
             |sg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signup
             |       FROM per WHERE s IS NOT NULL)
             |SELECT sg.n_signup,
             |  CAST(COUNT(*) AS BIGINT) AS n_converters,
             |  floor(quantile_cont(lag, 0.25) * 10000 + 0.5) / 10000 AS q25,
             |  floor(quantile_cont(lag, 0.5) * 10000 + 0.5) / 10000 AS median,
             |  floor(quantile_cont(lag, 0.75) * 10000 + 0.5) / 10000 AS q75,
             |  floor(quantile_cont(lag, 0.9) * 10000 + 0.5) / 10000 AS p90
             |FROM conv CROSS JOIN sg
             |GROUP BY sg.n_signup""".stripMargin)),

    // ----- q335: recommender leave-last-out evaluation — the EVAL
    // member the memory-based recommender family (q231 item-item
    // CF, q294 ALS) ships without: hold out each customer's LAST
    // order, score candidate parts by summed train-order
    // co-occurrence with the customer's training basket (new items
    // only), and read hit-rate@10 against the held-out basket.
    // All counts exact; ranking a customer-PARTITIONED window with
    // (score desc, part) tie-break; the holdout split is a
    // deterministic (date, orderkey) ordinal. Scale shape: the
    // candidate frame is basket×co-degree (co-occurrence-graph
    // bounded, never |parts|²).
    QueryDef(
      "q335_recsys_holdout",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val ords = Tables.orders(s, d).select(
          $"o_custkey".as("cust"), $"o_orderkey".as("ok"),
          to_date($"o_orderdate").as("dt"))
        val rn = ords.withColumn("rn", row_number().over(
            Window.partitionBy($"cust").orderBy($"dt".desc, $"ok".desc)))
          .transform(graft.operators.Iterate.reuse) // holdout + train legs read it
        val nOrd = rn.groupBy($"cust").agg(max($"rn").as("n_orders"))
        val evalUsers = nOrd.filter($"n_orders" >= 2).select($"cust")
          .transform(graft.operators.Iterate.reuse)
        // hold + train each consume the distinct: one build, reused
        val li = Tables.lineitem(s, d)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("part")).distinct()
          .transform(graft.operators.Iterate.reuse)
        val hold = rn.filter($"rn" === 1).join(li, "ok")
          .join(evalUsers, "cust")
          .select($"cust", $"part").distinct()
        // reuse, not truncate: the cached join output keeps its hash(ok)
        // partitioning + ordering, so the co-occurrence SELF-join below
        // re-reads it with no fresh exchange on either side (r19:
        // shuffle 63 -> 41 MB at sf0.1)
        val train = rn.filter($"rn" > 1).join(li, "ok")
          .transform(graft.operators.Iterate.reuse) // co-occurrence + baskets read it
        // support floor ≥ 2 (the q99/q209 thinning convention): the
        // weight-1 co-occurrence tail is ~90% of pairs and pure noise
        // for ranking — dropping it keeps the candidate frame
        // co-degree-bounded at any scale
        val co = train.as("a").join(train.as("b"),
            col("a.ok") === col("b.ok") && col("a.part") =!= col("b.part"))
          .groupBy(col("a.part").as("pa"), col("b.part").as("pb"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
        val basket = train.join(evalUsers, "cust")
          .select($"cust", $"part").distinct()
          .transform(graft.operators.Iterate.reuse) // score + new-item filter read it
        val scored = basket.join(co, basket("part") === co("pa"))
          .groupBy($"cust", $"pb").agg(sum($"w").as("score"))
        val fresh = scored.join(
          basket.select($"cust", $"part".as("pb")),
          Seq("cust", "pb"), "left_anti")
        val top = fresh.withColumn("rk", row_number().over(
            Window.partitionBy($"cust").orderBy($"score".desc, $"pb")))
          .filter($"rk" <= 10)
        // aliased: `top` and `hold` share the `cust` attribute of `rn`
        val hits = top.as("t").join(hold.as("h"),
            $"t.cust" === $"h.cust" && $"t.pb" === $"h.part")
          .select($"t.cust").distinct()
          .agg(count(lit(1)).as("n_hit"))
        val nEval = evalUsers.agg(count(lit(1)).as("n_eval"))
        nEval.crossJoin(hits).select($"n_eval", $"n_hit",
          expr("n_hit * 1000000 DIV n_eval").as("hit_rate_ppm"))
      },
      Some("""WITH ords AS (
             |  SELECT o_custkey AS cust, o_orderkey AS ok,
             |    CAST(o_orderdate AS DATE) AS dt
             |  FROM orders),
             |rn AS MATERIALIZED (
             |  SELECT cust, ok,
             |    row_number() OVER (PARTITION BY cust
             |      ORDER BY dt DESC, ok DESC) AS rn
             |  FROM ords),
             |ev AS (SELECT cust FROM rn GROUP BY cust
             |       HAVING MAX(rn) >= 2),
             |li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
             |       FROM lineitem),
             |hold AS (
             |  SELECT DISTINCT r.cust, l.part
             |  FROM rn r JOIN li l ON l.ok = r.ok JOIN ev ON ev.cust = r.cust
             |  WHERE r.rn = 1),
             |train AS MATERIALIZED (
             |  SELECT r.cust, r.ok, l.part
             |  FROM rn r JOIN li l ON l.ok = r.ok WHERE r.rn > 1),
             |co AS MATERIALIZED (
             |  SELECT a.part AS pa, b.part AS pb,
             |    CAST(COUNT(*) AS BIGINT) AS w
             |  FROM train a JOIN train b
             |    ON a.ok = b.ok AND a.part <> b.part
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
             |basket AS MATERIALIZED (
             |  SELECT DISTINCT t.cust, t.part
             |  FROM train t JOIN ev ON ev.cust = t.cust),
             |scored AS (
             |  SELECT k.cust, c.pb, CAST(SUM(c.w) AS BIGINT) AS score
             |  FROM basket k JOIN co c ON c.pa = k.part
             |  GROUP BY 1, 2),
             |fresh AS (
             |  SELECT s.cust, s.pb, s.score
             |  FROM scored s
             |  WHERE NOT EXISTS (SELECT 1 FROM basket k
             |    WHERE k.cust = s.cust AND k.part = s.pb)),
             |top AS (
             |  SELECT cust, pb FROM (
             |    SELECT cust, pb,
             |      row_number() OVER (PARTITION BY cust
             |        ORDER BY score DESC, pb) AS rk
             |    FROM fresh) t
             |  WHERE rk <= 10),
             |hits AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hit FROM (
             |    SELECT DISTINCT t.cust
             |    FROM top t JOIN hold h
             |      ON h.cust = t.cust AND h.part = t.pb)),
             |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_eval FROM ev)
             |SELECT ne.n_eval, hits.n_hit,
             |  hits.n_hit * 1000000 // ne.n_eval AS hit_rate_ppm
             |FROM ne CROSS JOIN hits""".stripMargin)))
}
