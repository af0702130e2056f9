package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Expectations, KneserNey, LanguageModel, TableDiff}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-contract and corpus-quality queries: declarative expectation
  * checks (q94), snapshot diff / CDC classification (q95), and
  * unigram-LM perplexity scoring (q96).
  */
object QualityQueries {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  def defs: Seq[QueryDef] = Seq(
    // ----- q94: expectation suite over orders — five passing
    // contracts plus one deliberately failing cap, so the report
    // proves it can count, not just bless. Row-local checks share one
    // scan; unique + FK add one job each.
    QueryDef(
      "q94_expectations",
      (s, d) => {
        import s.implicits._
        Expectations.run(Tables.orders(s, d), Seq(
          Expectations.NotNull("o_custkey"),
          Expectations.InRange("o_totalprice", 0.0, 600000.0),
          Expectations.InSet("o_orderstatus", Seq("F", "O", "P")),
          Expectations.Unique(Seq("o_orderkey")),
          Expectations.ForeignKey("o_custkey", Tables.customer(s, d),
            "c_custkey", "customer"),
          Expectations.Predicate("price_cap_400k", $"o_totalprice" <= 400000)))
          .withColumnRenamed("check", "check_name")
      },
      Some("""SELECT check_name, n_violations, n_violations = 0 AS pass FROM (
             |  SELECT 'foreign_key(o_custkey->customer.c_custkey)' AS check_name,
             |    (SELECT count(*) FROM orders o
             |     WHERE o_custkey IS NOT NULL AND NOT EXISTS
             |       (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             |    AS n_violations
             |  UNION ALL SELECT 'in_range(o_totalprice,0.0,600000.0)',
             |    (SELECT count(*) FROM orders WHERE o_totalprice IS NOT NULL
             |     AND o_totalprice NOT BETWEEN 0 AND 600000)
             |  UNION ALL SELECT 'in_set(o_orderstatus)',
             |    (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
             |     AND o_orderstatus NOT IN ('F', 'O', 'P'))
             |  UNION ALL SELECT 'not_null(o_custkey)',
             |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
             |  UNION ALL SELECT 'predicate(price_cap_400k)',
             |    (SELECT count(*) FROM orders
             |     WHERE NOT coalesce(o_totalprice <= 400000, false))
             |  UNION ALL SELECT 'unique(o_orderkey)',
             |    (SELECT count(*) - count(DISTINCT o_orderkey)
             |       - CASE WHEN count(*) > count(o_orderkey) THEN 1 ELSE 0 END
             |     FROM orders))
             |ORDER BY check_name""".stripMargin)),

    // ----- q95: snapshot diff — a deterministically perturbed orders
    // v2 (drop %97 keys, double %13 prices, re-add %101 keys shifted)
    // classified by TableDiff's full-outer plan; per-class counts and
    // decimal-exact changed-price delta. All perturbations are exact
    // float ops (×2, key+const), so both engines see identical values.
    QueryDef(
      "q95_table_diff",
      (s, d) => {
        import s.implicits._
        val old = Tables.orders(s, d)
          .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
        val newV = old.filter($"o_orderkey" % 97 =!= 0)
          .withColumn("o_totalprice",
            when($"o_orderkey" % 13 === 0, $"o_totalprice" * 2)
              .otherwise($"o_totalprice"))
          .unionByName(old.filter($"o_orderkey" % 101 === 0)
            .select(($"o_orderkey" + 20000000L).as("o_orderkey"),
              $"o_totalprice", $"o_orderstatus"))
        TableDiff.diff(old, newV, Seq("o_orderkey"),
            Seq("o_totalprice", "o_orderstatus"))
          .groupBy($"change_type")
          .agg(count(lit(1)).as("n"),
            sum(when($"change_type" === "changed",
              dec($"new_o_totalprice") - dec($"old_o_totalprice"))
              .otherwise(lit(0).cast("decimal(18,2)")))
              .cast("double").as("sum_delta"))
          .orderBy($"change_type")
      },
      Some("""WITH old AS (
             |  SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st
             |  FROM orders),
             |newv AS (
             |  SELECT k, CASE WHEN k % 13 = 0 THEN p * 2 ELSE p END AS p, st
             |  FROM old WHERE k % 97 <> 0
             |  UNION ALL
             |  SELECT k + 20000000, p, st FROM old WHERE k % 101 = 0),
             |d AS (
             |  SELECT CASE WHEN o.k IS NULL THEN 'added'
             |              WHEN n.k IS NULL THEN 'removed'
             |              WHEN o.p = n.p AND o.st = n.st THEN 'unchanged'
             |              ELSE 'changed' END AS change_type,
             |         o.p AS op, n.p AS np
             |  FROM old o FULL OUTER JOIN newv n ON o.k = n.k)
             |SELECT change_type, count(*) AS n,
             |  CAST(SUM(CASE WHEN change_type = 'changed'
             |    THEN CAST(np AS DECIMAL(18,2)) - CAST(op AS DECIMAL(18,2))
             |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_delta
             |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin)),

    // ----- q96: unigram-LM cross-entropy per document — the corpus
    // scores itself (vocabulary-sized probability table broadcast
    // into one scoring pass). exp(avg_nll) is the doc's perplexity.
    QueryDef(
      "q96_lm_perplexity",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val probs = LanguageModel.unigramProbs(docs, "text")
        LanguageModel.scoreDocs(docs, "doc_id", "text", probs)
          .withColumnRenamed("id", "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH words AS (
             |  SELECT doc_id, word FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |    FROM documents)
             |  WHERE length(word) > 0),
             |counts AS (SELECT word, count(*) AS n FROM words GROUP BY 1),
             |tot AS (SELECT SUM(n) AS total FROM counts),
             |probs AS (
             |  SELECT word, (CAST(n AS DOUBLE) + 0.0)
             |    / (CAST((SELECT total FROM tot) AS DOUBLE) + 0.0) AS p
             |  FROM counts)
             |SELECT doc_id, count(*) AS n_tokens,
             |  floor(avg(-ln(p)) * 10000 + 0.5) / 10000 AS avg_nll
             |FROM words JOIN probs USING (word)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ----- q162: interpolated Kneser–Ney BIGRAM cross-entropy per
    // document (operators.KneserNey) — the CCNet/KenLM-style quality
    // perplexity that sees word ORDER, not just word choice. The
    // fixed d = 3/4 discount keeps every probability an exact integer
    // rational num/(4·c_v·B), so the oracle rebuilds the identical
    // BIGINTs; the one ln is r4-rounded (the q96 libm discipline).
    // Every (v,w) in self-scoring is seen, so the oracle's inner
    // joins and the operator's left-join fallbacks coincide.
    QueryDef(
      "q162_kn_bigram_ppl",
      (s, d) => {
        import s.implicits._
        KneserNey.scoreDocs(Tables.documents(s, d), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy($"doc_id")
      },
      Some(
        s"""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
           |  FROM documents),
           |bs AS MATERIALIZED (
           |  SELECT doc_id,
           |    CASE WHEN i = 1 THEN '${KneserNey.Bos}' ELSE toks[i - 1] END AS v,
           |    toks[i] AS w
           |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
           |        FROM t)),
           |bg AS MATERIALIZED (
           |  SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw FROM bs GROUP BY 1, 2),
           |ctx AS MATERIALIZED (
           |  SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v,
           |    CAST(COUNT(*) AS BIGINT) AS n1fol
           |  FROM bg GROUP BY 1),
           |cont AS MATERIALIZED (
           |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n1pre FROM bg GROUP BY 1),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bg)
           |SELECT s.doc_id, COUNT(*) AS n_bigrams,
           |  floor(avg(-ln(
           |    CAST(GREATEST(4 * g.c_vw - 3, 0) * t.b + 3 * c.n1fol * n.n1pre
           |         AS DOUBLE)
           |    / CAST(4 * c.c_v * t.b AS DOUBLE))) * 10000 + 0.5) / 10000
           |    AS avg_nll
           |FROM bs s
           |JOIN bg g USING (v, w) JOIN ctx c USING (v) JOIN cont n USING (w)
           |CROSS JOIN tot t
           |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // ----- q121: PII redaction (operators.Redact) over a PLANTED
    // VALUES table — the fixture corpus is word-soup with no PII
    // (a documented true negative), so the oracle row comes from
    // literal rows mirrored verbatim on both sides. Patterns are
    // RE2-compatible by design (Redact scaladoc), so Java regex
    // (Spark) and RE2 (DuckDB) agree; the oracle SQL and the planted
    // rows are both GENERATED from Redact.patterns / plantedPii — one
    // source of truth, no transcription drift.
    QueryDef(
      "q121_redact",
      (s, _) => {
        import s.implicits._
        plantedPii.toDF("pii_id", "txt")
          .select($"pii_id",
            graft.operators.Redact.scrub($"txt").as("scrubbed"),
            graft.operators.Redact.counts($"txt").as("c"))
          .select(Seq($"pii_id", $"scrubbed") ++
            graft.operators.Redact.patterns.map { case (n, _, _) =>
              col(s"c.n_$n").cast("long").as(s"n_$n")
            }: _*)
          .orderBy($"pii_id")
      },
      Some(redactOracleSql)),

    // ----- q143: k-anonymity audit (operators/Anonymity) — the
    // class-size histogram over a quasi-identifier tuple (nation,
    // segment, balance band), with the k=5 violation flag per size.
    // The whole re-identification risk profile of the table in
    // max-class-size rows; the oracle reruns the two-level grouping.
    QueryDef(
      "q143_k_anonymity",
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d)
          .withColumn("bal_band", floor($"c_acctbal" / 1000.0).cast("long"))
        graft.operators.Anonymity.sizeHistogram(
            cust, Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5L)
          .orderBy($"class_size")
      },
      Some("""WITH cls AS (
             |  SELECT c_nationkey, c_mktsegment,
             |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             |    count(*) AS class_size
             |  FROM customer GROUP BY 1, 2, 3)
             |SELECT class_size, count(*) AS n_classes,
             |  CAST(class_size * count(*) AS BIGINT) AS n_rows,
             |  CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS BIGINT)
             |    AS violates_k
             |FROM cls GROUP BY class_size ORDER BY class_size""".stripMargin)),

    // ----- q180: referential-integrity audit across the FK chain
    // lineitem→orders→customer→nation — the data-contract companion
    // to q94 expectations: per relation, child rows + orphan rows in
    // ONE left-join pass against the distinct parent keys (no second
    // count scan). The fixture is intact (0 orphans) — a documented
    // true negative like q121's PII-free corpus.
    QueryDef(
      "q180_fk_audit",
      (s, d) => {
        def arm(rel: String, child: org.apache.spark.sql.DataFrame, ck: String,
            parent: org.apache.spark.sql.DataFrame, pk: String) =
          child.select(col(ck).as("k"))
            .join(parent.select(col(pk).as("k"), lit(1).as("hit")).distinct(),
              Seq("k"), "left")
            .agg(count(lit(1)).as("child_rows"),
              sum(when(col("hit").isNull, 1L).otherwise(0L)).as("orphan_rows"))
            .select(lit(rel).as("relation"), col("child_rows"),
              col("orphan_rows"))
        arm("customer.c_nationkey->nation",
            Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey")
          .unionAll(arm("lineitem.l_orderkey->orders",
            Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey"))
          .unionAll(arm("orders.o_custkey->customer",
            Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"))
          .orderBy(col("relation"))
      },
      Some("""SELECT * FROM (
             |  SELECT 'customer.c_nationkey->nation' AS relation,
             |    CAST(COUNT(*) AS BIGINT) AS child_rows,
             |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS orphan_rows
             |  FROM customer c
             |  LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
             |    ON c.c_nationkey = p.k
             |  UNION ALL
             |  SELECT 'lineitem.l_orderkey->orders',
             |    CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem l
             |  LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
             |    ON l.l_orderkey = p.k
             |  UNION ALL
             |  SELECT 'orders.o_custkey->customer',
             |    CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM orders o
             |  LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
             |    ON o.o_custkey = p.k)
             |ORDER BY relation""".stripMargin)),

    // ----- q300: functional-dependency audit (FD mining lite) — for
    // candidate rules A→B across the dimension tables, how many rows
    // deviate from the majority B of their A group? violations =
    // Σ_A (n_A − max_B n_AB); 0 ⇒ the FD holds exactly. The
    // dbt-test-style integrity member next to q180 (FKs) and q94
    // (expectations): FDs catch denormalization drift neither sees.
    // Exact integer counts end to end.
    QueryDef(
      "q300_fd_audit",
      (s, d) => {
        import s.implicits._
        def arm(df: org.apache.spark.sql.DataFrame, tbl: String,
            lhs: String, rhs: String) = {
          df.groupBy(col(lhs).cast("string").as("a"),
              col(rhs).cast("string").as("b"))
            .agg(count(lit(1)).as("c"))
            .groupBy($"a")
            .agg(sum($"c").as("na"), max($"c").as("ma"))
            .agg(count(lit(1)).as("n_groups"), sum($"na").as("n_rows"),
              sum($"na" - $"ma").as("violations"))
            .select(lit(tbl).as("tbl"), lit(lhs).as("lhs"),
              lit(rhs).as("rhs"), $"n_groups", $"n_rows", $"violations",
              ($"violations" === 0).as("fd_holds"))
        }
        arm(Tables.part(s, d), "part", "p_brand", "p_type")
          .unionAll(arm(Tables.part(s, d), "part", "p_type", "p_size"))
          .unionAll(arm(Tables.orders(s, d), "orders",
            "o_orderpriority", "o_orderstatus"))
          .unionAll(arm(Tables.lineitem(s, d), "lineitem",
            "l_returnflag", "l_linestatus"))
          .orderBy($"tbl", $"lhs")
      },
      Some {
        def arm(tbl: String, lhs: String, rhs: String): String =
          s"""SELECT '$tbl' AS tbl, '$lhs' AS lhs, '$rhs' AS rhs,
             |  CAST(COUNT(*) AS BIGINT) AS n_groups,
             |  CAST(SUM(na) AS BIGINT) AS n_rows,
             |  CAST(SUM(na - ma) AS BIGINT) AS violations,
             |  CAST(SUM(na - ma) AS BIGINT) = 0 AS fd_holds
             |FROM (
             |  SELECT a, CAST(SUM(c) AS BIGINT) AS na,
             |    CAST(MAX(c) AS BIGINT) AS ma
             |  FROM (
             |    SELECT CAST($lhs AS VARCHAR) AS a,
             |      CAST($rhs AS VARCHAR) AS b,
             |      CAST(count(*) AS BIGINT) AS c
             |    FROM $tbl GROUP BY 1, 2)
             |  GROUP BY a)""".stripMargin
        s"""SELECT * FROM (
           |${Seq(arm("part", "p_brand", "p_type"),
              arm("part", "p_type", "p_size"),
              arm("orders", "o_orderpriority", "o_orderstatus"),
              arm("lineitem", "l_returnflag", "l_linestatus"))
             .mkString("\nUNION ALL\n")})
           |ORDER BY tbl, lhs""".stripMargin
      }))

  /** Planted PII rows (no single quotes — they embed in SQL literals
    * verbatim): one shape per pattern, the URL-masks-embedded-email
    * ordering case, multiples per row, a too-short digit run that
    * must NOT match, a no-PII row, and a null.
    */
  private val plantedPii: Seq[(Long, String)] = Seq(
    1L -> "contact alice.smith+spam@example.co.uk today",
    2L -> "see https://example.com/a?b=c#f and http://foo.bar/baz",
    3L -> "servers 192.168.0.1 and 10.0.0.255 rebooted",
    4L -> "call +1 (415) 555-0199 or 555 867 5309 now",
    5L -> "https://x.io/mail?to=bob@x.io hides the address",
    6L -> "mix a@b.cc ip 1.2.3.4 url https://q.z tel 0123456789",
    7L -> "digits 12-34-56 are too short to be a phone",
    8L -> "nothing sensitive here",
    9L -> null.asInstanceOf[String])

  /** VALUES + regexp replay generated from the SAME pattern list the
    * operator folds over: scrub = chained global regexp_replace;
    * count_i runs against the text with EARLIER patterns already
    * masked (the attribution order Redact.counts documents). DuckDB
    * needs the explicit global flag — its regexp_replace defaults to
    * first-match-only, where Spark always replaces all.
    */
  private def redactOracleSql: String = {
    val pats = graft.operators.Redact.patterns
    val values = plantedPii.map { case (id, t) =>
      val lit = if (t == null) "NULL" else s"'$t'"
      s"(CAST($id AS BIGINT), $lit)"
    }.mkString(",\n       ")
    val scrub = pats.foldLeft("txt") { case (e, (_, p, r)) =>
      s"regexp_replace($e, '$p', '$r', 'g')"
    }
    val counts = pats.zipWithIndex.map { case ((n, p, _), i) =>
      val priorMasked = pats.take(i).foldLeft("coalesce(txt, '')") {
        case (e, (_, pp, rr)) => s"regexp_replace($e, '$pp', '$rr', 'g')"
      }
      s"CAST(len(regexp_extract_all($priorMasked, '$p')) AS BIGINT) AS n_$n"
    }.mkString(",\n  ")
    s"""WITH planted(pii_id, txt) AS (VALUES
       |       $values)
       |SELECT pii_id,
       |  $scrub AS scrubbed,
       |  $counts
       |FROM planted
       |ORDER BY pii_id""".stripMargin
  }
}
