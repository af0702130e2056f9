package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.r4
import graft.operators.Funnel
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics — funnel conversion, Markov transitions,
  * activity streaks, time-range rolling aggregates, and histograms.
  * These are the behavioral-analytics counterpart to the sessionize
  * family (q39/q64): ordered-in-time semantics expressed through
  * joins and windows, never per-entity collect.
  */
object SequenceQueries {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  def defs: Seq[QueryDef] = Seq(
    // ----- q87: 3-stage conversion funnel with per-stage windows
    // (click ≤24h after first view, purchase ≤72h after that click).
    // Stage aggregates share one entity partitioning; output is k
    // scalar rows.
    QueryDef(
      "q87_funnel",
      (s, d) => {
        import s.implicits._
        val stages = Seq(
          Funnel.Stage("view", $"event_type" === "view"),
          Funnel.Stage("click", $"event_type" === "click", withinSeconds = 24 * 3600),
          Funnel.Stage("purchase", $"event_type" === "purchase", withinSeconds = 72 * 3600))
        val per = Funnel.funnel(Tables.events(s, d), $"user_id", $"ts", stages)
        Funnel.funnelStats(per, stages)
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT v.user_id, min(e.ts) AS t2 FROM events e
             |  JOIN v ON e.user_id = v.user_id
             |   AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
             |  WHERE e.event_type = 'click' GROUP BY 1),
             |p AS (
             |  SELECT c.user_id, min(e.ts) AS t3 FROM events e
             |  JOIN c ON e.user_id = c.user_id
             |   AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 72 HOUR
             |  WHERE e.event_type = 'purchase' GROUP BY 1),
             |n AS (
             |  SELECT 1 AS stage_idx, 'view' AS stage,
             |         (SELECT count(*) FROM v) AS n_entities
             |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
             |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p))
             |SELECT stage_idx, stage, n_entities,
             |  floor(CAST(n_entities AS DOUBLE)
             |    / (SELECT count(*) FROM v) * 10000 + 0.5) / 10000
             |    AS conv_from_first
             |FROM n ORDER BY stage_idx""".stripMargin)),

    // ----- q88: first-order Markov transition matrix of event types
    // per user (lead over the per-user time order), with per-source
    // transition probabilities. One shuffle (the window), one agg.
    QueryDef(
      "q88_markov_transitions",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val pairs = Tables.events(s, d)
          .select($"event_type".as("src"),
            lead($"event_type", 1).over(w).as("dst"))
          .filter($"dst".isNotNull)
          .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
        pairs
          .withColumn("p", r4($"n".cast("double") /
            sum($"n").over(Window.partitionBy($"src"))))
          .orderBy($"src", $"dst")
      },
      Some("""WITH pairs AS (
             |  SELECT src, dst, count(*) AS n FROM (
             |    SELECT event_type AS src,
             |      lead(event_type) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id) AS dst
             |    FROM events)
             |  WHERE dst IS NOT NULL GROUP BY 1, 2)
             |SELECT src, dst, n,
             |  floor(CAST(n AS DOUBLE)
             |    / SUM(n) OVER (PARTITION BY src) * 10000 + 0.5) / 10000 AS p
             |FROM pairs ORDER BY src, dst""".stripMargin)),

    // ----- q89: gaps-and-islands — longest consecutive-day activity
    // streak per user. The classic day_num − row_number group key;
    // integer day arithmetic on both engines (no interval semantics
    // to disagree on).
    QueryDef(
      "q89_streaks",
      (s, d) => {
        import s.implicits._
        val days = Tables.events(s, d)
          .select($"user_id", to_date($"ts").as("day")).distinct()
          .withColumn("day_num", datediff($"day", lit("1990-01-01")))
        val w = Window.partitionBy($"user_id").orderBy($"day_num")
        val isl = days
          .withColumn("grp", $"day_num" - row_number().over(w))
          .groupBy($"user_id", $"grp").agg(count(lit(1)).as("len"))
        isl.groupBy($"user_id")
          .agg(sum($"len").as("n_active_days"), max($"len").as("longest_streak"))
          .orderBy($"user_id")
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id,
             |    datediff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day_num
             |  FROM events),
             |isl AS (
             |  SELECT user_id, day_num,
             |    day_num - ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY day_num) AS grp
             |  FROM days),
             |runs AS (
             |  SELECT user_id, grp, count(*) AS len
             |  FROM isl GROUP BY 1, 2)
             |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
             |  CAST(MAX(len) AS BIGINT) AS longest_streak
             |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ----- q90: 30-day trailing rolling aggregate per customer — a
    // RANGE window over integer day values (value-based frames, not
    // row counts; same-day peers aggregate identically on both
    // engines). Decimal-exact money sum.
    QueryDef(
      "q90_rolling_range",
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d)
          .withColumn("day_num", datediff(to_date($"o_orderdate"), lit("1990-01-01")))
        val w = Window.partitionBy($"o_custkey").orderBy($"day_num")
          .rangeBetween(-30, Window.currentRow)
        o.select($"o_custkey", $"o_orderkey",
            sum(dec($"o_totalprice")).over(w).cast("double").as("roll_sum"),
            count(lit(1)).over(w).as("roll_n"))
          .orderBy($"o_custkey", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
             |    AS roll_sum,
             |  COUNT(*) OVER w AS roll_n
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
             |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ----- q91: histogram, both flavors in one pass each — equi-depth
    // (exact ntile deciles over a total order) and equi-width (fixed
    // 60k price bins, capped). The decile assignment is
    // GlobalOrder.ntileRank — a two-pass range-partitioned tile
    // assignment over the fact table, NOT ntile() over an
    // unpartitioned window (which would pull every order through one
    // WindowExec task). At 100 TB the equi-depth variant would use
    // the percentile sketch (q43) instead of a global sort; this query
    // pins the exact semantics the sketch approximates.
    QueryDef(
      "q91_histogram",
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d)
        val depth = graft.operators.GlobalOrder
          .ntileRank(o, Seq($"o_totalprice", $"o_orderkey"), 10, "bucket")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"), min($"o_totalprice").as("lo"),
            max($"o_totalprice").as("hi"),
            sum(dec($"o_totalprice")).cast("double").as("sum_price"))
          .withColumn("kind", lit("depth"))
        val width = o
          .withColumn("bucket", least(floor($"o_totalprice" / 60000), lit(9)).cast("long"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"), min($"o_totalprice").as("lo"),
            max($"o_totalprice").as("hi"),
            sum(dec($"o_totalprice")).cast("double").as("sum_price"))
          .withColumn("kind", lit("width"))
        depth.unionByName(width)
          .select($"kind", $"bucket", $"n", $"lo", $"hi", $"sum_price")
          .orderBy($"kind", $"bucket")
      },
      Some("""WITH depth AS (
             |  SELECT 'depth' AS kind, bucket, count(*) AS n,
             |    min(o_totalprice) AS lo, max(o_totalprice) AS hi,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |  FROM (SELECT o_totalprice,
             |    CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
             |      AS bucket FROM orders)
             |  GROUP BY bucket),
             |width AS (
             |  SELECT 'width' AS kind, bucket, count(*) AS n,
             |    min(o_totalprice) AS lo, max(o_totalprice) AS hi,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |  FROM (SELECT o_totalprice,
             |    CAST(least(floor(o_totalprice / 60000), 9) AS BIGINT) AS bucket
             |    FROM orders)
             |  GROUP BY bucket)
             |SELECT * FROM depth UNION ALL SELECT * FROM width
             |ORDER BY kind, bucket""".stripMargin)),

    // ----- q101: SCD2 (slowly-changing dimension) construction — each
    // user's event stream becomes validity intervals [ts, next_ts)
    // via one lead window, then an as-of snapshot reads the version
    // current at a fixed instant. The build is ONE shuffle; the
    // snapshot is a filter, not a join.
    QueryDef(
      "q101_scd2_versions",
      (s, d) => {
        import s.implicits._
        val snapT = lit("2024-01-15 00:00:00").cast("timestamp")
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val versions = Tables.events(s, d)
          .select($"user_id", $"ts", $"event_id", $"value")
          .withColumn("valid_to", lead($"ts", 1).over(w))
          .withColumn("version", row_number().over(w))
        val current = versions
          .filter($"ts" <= snapT && ($"valid_to".isNull || $"valid_to" > snapT))
          .select($"user_id", $"version".as("version_at_snap"),
            r4($"value").as("value_at_snap"))
        versions.groupBy($"user_id").agg(max($"version").as("n_versions"))
          .join(current, Seq("user_id"), "left")
          .orderBy($"user_id")
      },
      Some("""WITH v AS (
             |  SELECT user_id, ts, value,
             |    lead(ts) OVER w AS valid_to,
             |    ROW_NUMBER() OVER w AS version
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |cur AS (
             |  SELECT user_id, version AS version_at_snap,
             |    floor(value * 10000 + 0.5) / 10000 AS value_at_snap
             |  FROM v
             |  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
             |    AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00'))
             |SELECT n.user_id, n.n_versions, cur.version_at_snap, cur.value_at_snap
             |FROM (SELECT user_id, max(version) AS n_versions FROM v GROUP BY 1) n
             |LEFT JOIN cur ON n.user_id = cur.user_id
             |ORDER BY n.user_id""".stripMargin)),

    // ----- q108: time-weighted average (TWAP) per user — each event's
    // value held until the next event (LOCF), weighted by exact
    // integer microsecond durations; the standard irregular-time-
    // series mean. One lead window, one aggregate.
    QueryDef(
      "q108_time_weighted_avg",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val seg = Tables.events(s, d)
          .select($"user_id", $"event_id", $"ts", $"value")
          .withColumn("dur_us", unix_micros(lead($"ts", 1).over(w)) - unix_micros($"ts"))
          .filter($"dur_us".isNotNull)
        // numerator quantized to whole units before summing (the q99
        // convention): an integer sum is exact and order-free, where a
        // raw double sum drifts with partition layout; the ≤1-unit
        // truncation per term is ~1e-11 relative on month-long spans
        seg.groupBy($"user_id")
          .agg(count(lit(1)).as("n_segments"),
            sum($"dur_us").as("span_us"),
            r4(sum(floor($"value" * $"dur_us").cast("long")).cast("double")
              / sum($"dur_us")).as("twap"))
          .orderBy($"user_id")
      },
      Some("""WITH seg AS (
             |  SELECT user_id, value,
             |    epoch_us(lead(ts) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
             |  FROM events)
             |SELECT user_id, count(*) AS n_segments,
             |  CAST(SUM(dur_us) AS BIGINT) AS span_us,
             |  floor(CAST(SUM(CAST(floor(value * dur_us) AS BIGINT)) AS DOUBLE)
             |    / SUM(dur_us) * 10000 + 0.5) / 10000 AS twap
             |FROM seg WHERE dur_us IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ----- q109: session path analysis — the top session-opening
    // event-type sequences (first 5 events per 30-min session),
    // sessions built with the q64 window algebra. Order-stable
    // collection via sort_array over (ts, event_id, type) structs —
    // collect_list alone is shuffle-order-nondeterministic, the Vocab
    // convention.
    QueryDef(
      "q109_session_paths",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val sess = Tables.events(s, d)
          .withColumn("brk",
            when(unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w))
              <= 30 * 60000000L, 0).otherwise(1))
          .withColumn("sid", sum($"brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val paths = sess.groupBy($"user_id", $"sid")
          .agg(sort_array(collect_list(
            struct($"ts", $"event_id", $"event_type"))).as("evs"))
          .select(array_join(
            transform(slice($"evs", 1, 5), e => e.getField("event_type")), "->")
            .as("path"), $"user_id")
        paths.groupBy($"path")
          .agg(count(lit(1)).as("n_sessions"),
            count_distinct($"user_id").as("n_users"))
          .orderBy($"n_sessions".desc, $"path")
          .limit(20)
      },
      Some("""WITH x AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id) <= INTERVAL 30 MINUTE
             |      THEN 0 ELSE 1 END AS brk
             |  FROM events),
             |y AS (
             |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM x),
             |p AS (
             |  SELECT user_id,
             |    array_to_string(
             |      (list(event_type ORDER BY ts, event_id))[1:5], '->') AS path
             |  FROM y GROUP BY user_id, sid)
             |SELECT path, count(*) AS n_sessions,
             |  count(DISTINCT user_id) AS n_users
             |FROM p GROUP BY path
             |ORDER BY n_sessions DESC, path
             |LIMIT 20""".stripMargin)),

    // ----- q168: per-user integer EWMA (operators.Ewma) — the
    // sequential smoothing recurrence s_t = s_{t-1} +
    // fdiv(x_t - s_{t-1}, 8) in centi-quanta. Non-linear (floored)
    // carry → no window can express it: the Spark side is the
    // mapGroups tier, the oracle replays the identical recurrence as
    // a RECURSIVE CTE stepping rn → rn+1 within each user. Every
    // step is exact integer algebra, so 10k rows of smoothed state
    // hash-match with no tolerance.
    QueryDef(
      "q168_ewma",
      (s, d) => graft.operators.Ewma
        .ewma(Tables.events(s, d), "user_id", "ts", "event_id", "value"),
      Some(s"""WITH RECURSIVE base AS (
             |  SELECT user_id, event_id,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS xq,
             |    CAST(row_number() OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
             |  FROM events),
             |ew AS (
             |  SELECT user_id, event_id, rn, xq, xq AS s
             |  FROM base WHERE rn = 1
             |  UNION ALL
             |  SELECT b.user_id, b.event_id, b.rn, b.xq,
             |    e.s + ${QueryFixtures.fdivSql("b.xq - e.s",
                      graft.operators.Ewma.AlphaDen.toString)}
             |  FROM ew e JOIN base b
             |    ON b.user_id = e.user_id AND b.rn = e.rn + 1)
             |SELECT user_id, rn, event_id, xq, s AS ewma
             |FROM ew ORDER BY user_id, rn""".stripMargin)),

    // ----- q213: Wald SPRT — one sequential test per event_type arm
    // (success = value ≥ 100, the symmetric p₁=0.55 vs p₀=0.45 test
    // at α=β=0.05), stopped at the first trial where |LLR| crosses
    // ln(19). The increments/threshold are the INTEGER micro-nat
    // literals baked into operators.Sprt — no query-time ln(), so the
    // walk is exact integer algebra both engines replay identically.
    // The Spark side runs the GlobalOrder two-pass prefix machinery
    // (no unpartitioned window, no per-arm single task); the oracle
    // expresses the same walk with per-arm windows, legal at DuckDB's
    // single-node scale.
    QueryDef(
      "q213_sprt",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).select($"event_type",
          unix_micros($"ts").as("us"), $"event_id", $"value")
        graft.operators.Sprt
          .decide(ev, "event_type", "us", "event_id", $"value" >= 100)
          .withColumnRenamed("arm", "event_type")
          .orderBy($"event_type")
      },
      Some(s"""WITH t AS (
             |  SELECT event_type AS arm, epoch_us(ts) AS us, event_id,
             |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS ind
             |  FROM events),
             |w AS (
             |  SELECT arm,
             |    CAST(SUM(ind) OVER (PARTITION BY arm ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sc,
             |    CAST(row_number() OVER (PARTITION BY arm
             |      ORDER BY us, event_id) AS BIGINT) AS idx
             |  FROM t),
             |l AS MATERIALIZED (
             |  SELECT arm, idx,
             |    ${graft.operators.Sprt.LlrStepMicro} * (2 * sc - idx) AS llr
             |  FROM w),
             |crossed AS (
             |  SELECT arm, n_stop, llr AS cllr FROM (
             |    SELECT arm, idx AS n_stop, llr,
             |      row_number() OVER (PARTITION BY arm ORDER BY idx) AS rn
             |    FROM l
             |    WHERE abs(llr) >= ${graft.operators.Sprt.ThresholdMicro}) t
             |  WHERE rn = 1),
             |finals AS (
             |  SELECT arm, idx AS fidx, llr AS fllr FROM (
             |    SELECT arm, idx, llr,
             |      row_number() OVER (PARTITION BY arm ORDER BY idx DESC) AS rn
             |    FROM l) t
             |  WHERE rn = 1)
             |SELECT f.arm AS event_type,
             |  CASE WHEN c.n_stop IS NULL THEN 'continue'
             |    WHEN c.cllr > 0 THEN 'accept_h1'
             |    ELSE 'accept_h0' END AS decision,
             |  coalesce(c.n_stop, f.fidx) AS n_stop,
             |  coalesce(c.cllr, f.fllr) AS llr_micro
             |FROM finals f LEFT JOIN crossed c ON f.arm = c.arm
             |ORDER BY event_type""".stripMargin)),

    // ----- q251: Kleinberg two-state burst detection (Kleinberg 2002)
    // over the daily error-event series — the BURST member of the
    // sequence family (CUSUM flags a level shift once; this one labels
    // every day as base-rate or burst-rate via a min-cost state path).
    // The entire forward DP is EXACT INTEGER micro-nat algebra: state
    // costs rate_s − n_d·ln(rate_s) (the n_d! term is state-independent
    // and cancels, so no factorials), with rate/ln/transition constants
    // snapped micro ONCE up front; each of the 30 day-steps is then
    // pure BIGINT min/add, unrolled identically in both engines. The
    // day grid is the fixture's fixed 30-day window from the earliest
    // event (empty days carry n = 0); labels are the forward-cost
    // comparison v1 < v0 (documented as forward-DP labeling).
    QueryDef(
      "q251_burst_detection",
      (s, d) => {
        import s.implicits._
        val D = 30
        val ev = Tables.events(s, d).filter($"event_type" === "error")
          .select(to_date($"ts").as("day"))
        val base = ev.agg(min($"day").as("d0"))
        val counts = ev.crossJoin(base)
          .select(datediff($"day", $"d0").cast("long").as("di"))
          .filter($"di" < D)
          .groupBy($"di").agg(count(lit(1)).as("n"))
        val grid = s.range(0, D).toDF("di")
          .join(counts, Seq("di"), "left")
          .select($"di", coalesce($"n", lit(0L)).as("n"))
          .transform(graft.operators.Iterate.truncate)
        val par = grid.agg(sum($"n").as("tt"))
          .select(
            floor($"tt".cast("double") * 1000000.0 / D + lit(0.5))
              .cast("long").as("r0m"),
            floor($"tt".cast("double") * 2.0 * 1000000.0 / D + lit(0.5))
              .cast("long").as("r1m"),
            floor(log($"tt".cast("double") / D) * 1000000.0 + lit(0.5))
              .cast("long").as("lr0m"),
            floor(log($"tt".cast("double") * 2.0 / D) * 1000000.0 + lit(0.5))
              .cast("long").as("lr1m"),
            floor(log(lit(D.toDouble)) * 1000000.0 + lit(0.5))
              .cast("long").as("trm"))
          .transform(graft.operators.Iterate.truncate)
        var v = grid.filter($"di" === 0).crossJoin(par)
          .select($"di", $"n",
            ($"r0m" - $"n" * $"lr0m").as("v0"),
            ($"trm" + $"r1m" - $"n" * $"lr1m").as("v1"))
          .transform(graft.operators.Iterate.truncate)
        val days = scala.collection.mutable.ArrayBuffer(v)
        for (di <- 1 until D) {
          v = v.select($"v0".as("p0"), $"v1".as("p1"))
            .crossJoin(grid.filter($"di" === di))
            .crossJoin(par)
            .select($"di", $"n",
              (least($"p0", $"p1") + ($"r0m" - $"n" * $"lr0m")).as("v0"),
              (least($"p0" + $"trm", $"p1")
                + ($"r1m" - $"n" * $"lr1m")).as("v1"))
            .transform(graft.operators.Iterate.truncate)
          days += v
        }
        days.reduce(_ unionAll _)
          .select($"di", $"n", $"v0".as("v0_micro"), $"v1".as("v1_micro"),
            ($"v1" < $"v0").as("in_burst"))
          .orderBy($"di")
      },
      Some {
        val D = 30
        def step(di: Int): String =
          s"""v$di AS (
             |  SELECT g.di, g.n,
             |    LEAST(p.v0, p.v1) + (pa.r0m - g.n * pa.lr0m) AS v0,
             |    LEAST(p.v0 + pa.trm, p.v1) + (pa.r1m - g.n * pa.lr1m) AS v1
             |  FROM v${di - 1} p CROSS JOIN par pa
             |  CROSS JOIN (SELECT di, n FROM grid WHERE di = $di) g)""".stripMargin
        s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day FROM events
           |            WHERE event_type = 'error'),
           |base AS (SELECT MIN(day) AS d0 FROM ev),
           |counts AS (
           |  SELECT datediff('day', b.d0, e.day) AS di,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM ev e CROSS JOIN base b
           |  WHERE datediff('day', b.d0, e.day) < $D
           |  GROUP BY 1),
           |grid AS MATERIALIZED (
           |  SELECT g.di, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
           |  FROM (SELECT CAST(unnest(range(0, $D)) AS BIGINT) AS di) g
           |  LEFT JOIN counts c ON g.di = c.di),
           |par AS MATERIALIZED (
           |  SELECT
           |    CAST(floor(CAST(tt AS DOUBLE) * 1000000.0 / $D + 0.5) AS BIGINT)
           |      AS r0m,
           |    CAST(floor(CAST(tt AS DOUBLE) * 2.0 * 1000000.0 / $D + 0.5)
           |      AS BIGINT) AS r1m,
           |    CAST(floor(ln(CAST(tt AS DOUBLE) / $D) * 1000000.0 + 0.5)
           |      AS BIGINT) AS lr0m,
           |    CAST(floor(ln(CAST(tt AS DOUBLE) * 2.0 / $D) * 1000000.0 + 0.5)
           |      AS BIGINT) AS lr1m,
           |    CAST(floor(ln(CAST($D AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
           |      AS trm
           |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM grid)),
           |v0 AS (
           |  SELECT g.di, g.n,
           |    pa.r0m - g.n * pa.lr0m AS v0,
           |    pa.trm + pa.r1m - g.n * pa.lr1m AS v1
           |  FROM (SELECT di, n FROM grid WHERE di = 0) g CROSS JOIN par pa),
           |${(1 until D).map(step).mkString(",\n")}
           |SELECT di, n, v0 AS v0_micro, v1 AS v1_micro, v1 < v0 AS in_burst
           |FROM (${(0 until D).map(i => s"SELECT * FROM v$i").mkString(" UNION ALL ")})
           |ORDER BY di""".stripMargin
      }))
}
