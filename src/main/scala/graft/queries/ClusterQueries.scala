package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{KMeans, Pca, Sampling}
import org.apache.spark.sql.functions._

/** Embedding-space clustering + semantic dedup (SURVEY §2.12): the
  * distributed k-means primitive (operators.KMeans) declared as
  * oracle-checked queries. The oracle REPLAYS the full Lloyd
  * recurrence in SQL — init by the portable hash, every iteration's
  * quantized-integer assignment and centroid update unrolled as CTE
  * pairs — so the cluster assignments are checked value-for-value, not
  * just shape-checked. That is only possible because every step of the
  * trainer is exact integer arithmetic (KMeans scaladoc); a float
  * k-means could never hash-match across engines.
  */
object ClusterQueries {

  private val K = 8
  private val Iters = 4
  private val Salt = 118L

  // q160 (PQ/ADC replay) tuning — one definition feeding BOTH the
  // Spark lambda and the oracle SQL (the no-copy-to-drift rule)
  private val PqM = 4
  private val PqSubDim = 16
  private val PqK = 8
  private val PqIters = 3
  private val PqSalt = 160L

  import QueryFixtures.{fdivSql, queryVecF, queryVecFSql}

  private val PcaIters = 5

  /** The q163 oracle: the full [[Pca]] recurrence replayed in SQL —
    * quantize (floor(v·2^10)), integer mean, exact centered Gram from
    * one pass of raw moments, [[PcaIters]] unrolled power-iteration
    * steps (u = G·v; v' = fdiv(u·2^12, max|u|)), the per-term
    * pre-scaled Rayleigh quotient, and each row's integer projection.
    * Every division is the shared [[fdivSql]] image of LogReg.fdiv;
    * everything else is BIGINT algebra, so the eigenvector, the
    * eigenvalue, and all projections hash-match with no tolerance.
    */
  private def pcaOracle: String = {
    val header =
      s"""WITH draw AS (
         |  SELECT vec_id, unnest(embedding) AS v,
         |    unnest(list_transform(range(0, len(embedding)), x -> x)) AS pos
         |  FROM embeddings),
         |quant AS MATERIALIZED (
         |  SELECT vec_id, pos,
         |    CAST(floor(CAST(v AS DOUBLE) * ${Pca.FeatScale}) AS BIGINT) AS x
         |  FROM draw),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
         |mean AS MATERIALIZED (
         |  SELECT pos, CAST(SUM(x) AS BIGINT) AS sx,
         |    ${fdivSql("CAST(SUM(x) AS BIGINT)", "(SELECT n FROM nn)")} AS m
         |  FROM quant GROUP BY pos),
         |gram AS MATERIALIZED (
         |  SELECT s.i, s.j,
         |    ${fdivSql(
               "s.sxx - mi.m * mj.sx - mj.m * mi.sx + (SELECT n FROM nn) * mi.m * mj.m",
               "(SELECT n FROM nn)")} AS g
         |  FROM (
         |    SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS sxx
         |    FROM quant a JOIN quant b USING (vec_id) GROUP BY a.pos, b.pos) s
         |  JOIN mean mi ON s.i = mi.pos JOIN mean mj ON s.j = mj.pos),
         |v0 AS (SELECT pos, CAST(${Pca.VScale} + pos AS BIGINT) AS v FROM mean)""".stripMargin
    def mulStep(vIn: String, uOut: String) =
      s"""$uOut AS (
         |  SELECT g.i AS pos, CAST(SUM(g.g * v.v) AS BIGINT) AS u
         |  FROM gram g JOIN $vIn v ON g.j = v.pos GROUP BY g.i)""".stripMargin
    val steps = (0 until PcaIters).map { t =>
      s"""${mulStep(s"v$t", s"u$t")},
         |v${t + 1} AS (
         |  SELECT pos, ${fdivSql(s"u * ${Pca.VScale}",
               s"(SELECT MAX(ABS(u)) FROM u$t)")} AS v
         |  FROM u$t)""".stripMargin
    }
    val vN = s"v$PcaIters"
    val tail =
      s"""${mulStep(vN, "uf")},
         |ray AS (
         |  SELECT CAST(SUM(${fdivSql("v.v * u.u", Pca.VScale.toString)}) AS BIGINT) AS num,
         |         CAST(SUM(${fdivSql("v.v * v.v", Pca.VScale.toString)}) AS BIGINT) AS den
         |  FROM $vN v JOIN uf u USING (pos)),
         |lam AS (SELECT ${fdivSql("num", "den")} AS lambda FROM ray),
         |tr AS (SELECT CAST(SUM(g) AS BIGINT) AS trace FROM gram WHERE i = j),
         |proj AS (
         |  SELECT q.vec_id, CAST(SUM(v.v * (q.x - mn.m)) AS BIGINT) AS pc1
         |  FROM quant q JOIN $vN v ON q.pos = v.pos JOIN mean mn ON q.pos = mn.pos
         |  GROUP BY q.vec_id)
         |SELECT p.vec_id, p.pc1, l.lambda,
         |  ${fdivSql("1000 * l.lambda", "t.trace")} AS evr_milli
         |FROM proj p, lam l, tr t
         |ORDER BY p.vec_id""".stripMargin
    (Seq(header) ++ steps ++ Seq(tail)).mkString(",\n")
  }

  /** CTE chain shared by q118/q119 (and, through [[blockLloydCtes]],
    * q160): dims (exploded components), init (portable-hash seed
    * rows), cent0..centN / a0..aN (the unrolled Lloyd recurrence —
    * aI assigns against centI, uI re-aggregates, centI+1 coalesces
    * empty cells back to their previous centroid). The final
    * `a$Iters` is the converged assignment the queries read.
    * Delegates to the generalized builder so there is ONE copy of
    * the recurrence text.
    */
  private def lloydCtes(k: Int, iters: Int, salt: Long): String =
    "WITH " + lloydCtesGeneral("", k, iters, salt, block = None)

  /** [[lloydCtes]] over one PQ sub-block: the identical recurrence
    * via [[lloydCtesGeneral]], dims restricted to embedding positions
    * [lo, lo+width) and every CTE name suffixed so several blocks
    * compose in one WITH. Positions stay ABSOLUTE so the ADC tail can
    * read `qv[pos+1]` directly; `salt` varies per block so seed picks
    * decorrelate (mirrors the Spark side's per-block KMeans.train
    * salt).
    */
  private def blockLloydCtes(
      sfx: String, k: Int, iters: Int, salt: Long, lo: Int, width: Int): String =
    lloydCtesGeneral(s"_$sfx", k, iters, salt, block = Some((lo, width)))

  /** The ONE copy of the unrolled Lloyd recurrence text behind both
    * [[lloydCtes]] (full embedding, empty suffix) and
    * [[blockLloydCtes]] (a position slice, per-block suffix) — a fix
    * to the assignment ordinal or centroid update here reaches
    * q118/q119/q158 and q160's oracle together, never one without
    * the other. The sliced form unnests the pre-sliced list (emitting
    * absolute positions as lo + offset) instead of exploding all dims
    * and filtering — a quarter of the rows for a 16-of-64 block.
    */
  private def lloydCtesGeneral(
      sfx: String, k: Int, iters: Int, salt: Long,
      block: Option[(Int, Int)]): String = {
    val frac = Sampling.hashFractionSql("vec_id", salt)
    val dimsBody = block match {
      case None =>
        s"""SELECT vec_id, unnest(embedding) AS v,
           |    unnest(list_transform(range(0, len(embedding)), x -> x)) AS pos
           |  FROM embeddings""".stripMargin
      case Some((lo, width)) =>
        s"""SELECT vec_id, unnest(embedding[${lo + 1}:${lo + width}]) AS v,
           |    $lo + unnest(list_transform(range(0, $width), x -> x)) AS pos
           |  FROM embeddings""".stripMargin
    }
    val header =
      s"""dims$sfx AS (
         |  $dimsBody),
         |init$sfx AS (
         |  SELECT vec_id, CAST(rn - 1 AS INT) AS cell FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY $frac, vec_id) AS rn
         |    FROM embeddings) WHERE rn <= $k),
         |cent0$sfx AS (
         |  SELECT i.cell, d.pos, CAST(d.v AS DOUBLE) AS c
         |  FROM init$sfx i JOIN dims$sfx d ON i.vec_id = d.vec_id)""".stripMargin
    def assign(i: Int) =
      s"""a$i$sfx AS (
         |  SELECT vec_id, CAST(min(ord) % $k AS INT) AS cell FROM (
         |    SELECT d.vec_id, c.cell,
         |      SUM(CAST(floor((CAST(d.v AS DOUBLE) - c.c) * (CAST(d.v AS DOUBLE) - c.c)
         |                     * ${KMeans.DistQuantum}) AS BIGINT)) * $k + c.cell AS ord
         |    FROM dims$sfx d JOIN cent$i$sfx c ON d.pos = c.pos
         |    GROUP BY d.vec_id, c.cell)
         |  GROUP BY vec_id)""".stripMargin
    val steps = (0 until iters).map { i =>
      s"""${assign(i)},
         |u$i$sfx AS (
         |  SELECT a.cell, d.pos,
         |    CAST(SUM(CAST(floor(CAST(d.v AS DOUBLE) * ${KMeans.SumQuantum}) AS BIGINT))
         |      AS DOUBLE) / count(*) / ${KMeans.SumQuantum} AS c
         |  FROM a$i$sfx a JOIN dims$sfx d ON a.vec_id = d.vec_id
         |  GROUP BY a.cell, d.pos),
         |cent${i + 1}$sfx AS (
         |  SELECT p.cell, p.pos, COALESCE(u.c, p.c) AS c
         |  FROM cent$i$sfx p LEFT JOIN u$i$sfx u
         |    ON p.cell = u.cell AND p.pos = u.pos)""".stripMargin
    }
    (header +: steps :+ assign(iters)).mkString(",\n")
  }

  def defs: Seq[QueryDef] = Seq(

    // ----- q118: distributed k-means cluster assignments — portable-
    // hash init, 4 full-table Lloyd iterations, every arithmetic step
    // quantized-exact so the DuckDB oracle replays the identical
    // recurrence (unrolled CTEs) and the assignment hash-matches.
    QueryDef(
      "q118_kmeans_clusters",
      (s, d) => {
        import s.implicits._
        val embs = Tables.embeddings(s, d)
        val model = KMeans.train(embs, "vec_id", "embedding", K, Iters, Salt)
        val assigned = KMeans.assignCells(embs, "vec_id", "embedding", model)
          .select($"vec_id", $"cell")
        val sizes = assigned.groupBy($"cell")
          .agg(count(lit(1)).as("cell_size"))
        assigned.join(sizes, "cell")
          .select($"vec_id", $"cell", $"cell_size")
          .orderBy($"vec_id")
      },
      Some(
        s"""${lloydCtes(K, Iters, Salt)}
           |SELECT a.vec_id, a.cell, s.cell_size
           |FROM a$Iters a JOIN (
           |  SELECT cell, CAST(count(*) AS BIGINT) AS cell_size
           |  FROM a$Iters GROUP BY cell) s ON a.cell = s.cell
           |ORDER BY a.vec_id""".stripMargin)),

    // ----- q119: SemDeDup semantic near-dup pairs — exact grid cosine
    // join WITHIN the q118 cells (Σ n_cell² instead of n²; the
    // clustering is the recall trade SemDeDup makes). Oracle: replay
    // the assignment, then all-pairs cosine within cells.
    QueryDef(
      "q119_semantic_dedup",
      (s, d) => {
        import s.implicits._
        KMeans.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
            K, Iters, threshold = 0.4, salt = Salt)
          .orderBy($"id_a", $"id_b")
      },
      Some(
        s"""${lloydCtes(K, Iters, Salt)}
           |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |  round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
           |                               CAST(eb.embedding AS DOUBLE[])), 6) AS cos
           |FROM a$Iters x JOIN a$Iters y ON x.cell = y.cell AND x.vec_id < y.vec_id
           |JOIN embeddings ea ON ea.vec_id = x.vec_id
           |JOIN embeddings eb ON eb.vec_id = y.vec_id
           |WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
           |                             CAST(eb.embedding AS DOUBLE[])) > 0.4
           |ORDER BY id_a, id_b""".stripMargin)),

    // ----- q158: the ORACLE-CHECKED twin of q44 — IVF probe + exact
    // rerank over the REPLAYABLE quantizer: the oracle replays the
    // full q118 Lloyd recurrence, ranks cells for the query by the
    // same quantized-integer distance ordinal the assignment uses
    // (so the 2-of-8 probe SET is derived, not trusted), scans only
    // those cells' rows, and reranks with the q19-precedent cosine.
    // Every stage of an IVF search — train, assign, probe, rerank —
    // is now value-checked by a second engine; q44 keeps the float
    // trainer as the production surface with its recall spec.
    QueryDef(
      "q158_ivf_search_replay",
      (s, d) => {
        import s.implicits._
        val embs = Tables.embeddings(s, d)
        val model = KMeans.train(embs, "vec_id", "embedding", K, Iters, Salt)
        val index = KMeans.assignCells(embs, "vec_id", "embedding", model)
        graft.operators.IvfSearch.searchQuant(index, "vec_id", "embedding",
            queryVecF, k = 5, model, nProbe = 2)
          .select($"vec_id", round($"sim", 6).as("sim"))
      },
      Some(
        s"""${lloydCtes(K, Iters, Salt)},
           |q AS (SELECT CAST($queryVecFSql AS DOUBLE[]) AS qv),
           |probe AS (
           |  SELECT cell FROM (
           |    SELECT c.cell,
           |      SUM(CAST(floor((q.qv[c.pos + 1] - c.c) * (q.qv[c.pos + 1] - c.c)
           |                     * ${KMeans.DistQuantum}) AS BIGINT)) AS dq
           |    FROM cent$Iters c, q
           |    GROUP BY c.cell
           |    ORDER BY dq, cell LIMIT 2))
           |SELECT a.vec_id,
           |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS sim
           |FROM a$Iters a
           |JOIN embeddings e ON e.vec_id = a.vec_id, q
           |WHERE a.cell IN (SELECT cell FROM probe)
           |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
           |  DESC, a.vec_id
           |LIMIT 5""".stripMargin)),

    // ----- q160: the ORACLE-CHECKED twin of q126 — product
    // quantization + ADC with NOTHING left unreplayed: 4 sub-blocks
    // of 16 dims, each k-means'd by the quantized Lloyd recurrence
    // (per-block salts; the oracle unrolls all four trainings), codes
    // assigned by the same integer ordinal, and the ADC distance
    // itself kept QUANTIZED — Σ_b Σ_j floor((q_j − c_j)²·2^20) is a
    // sum of integers, so unlike float ADC there is no summation-
    // order ulp anywhere: both engines produce the identical BIGINT
    // distance and the identical top-5, no rounding tolerance at all.
    // q126 keeps float ADC as the production surface (32× compression
    // economics are identical); this row makes the PQ capability —
    // train, encode, asymmetric distance — value-checked end to end.
    QueryDef(
      "q160_pq_adc_replay",
      (s, d) => {
        import s.implicits._
        val embs = Tables.embeddings(s, d)
        def sliced(b: Int) = embs.select($"vec_id",
          slice($"embedding", b * PqSubDim + 1, PqSubDim).as("sub"))
        val models = (0 until PqM).map(b =>
          KMeans.train(sliced(b), "vec_id", "sub", PqK, PqIters, PqSalt + b)).toArray
        // one narrow encode pass, all block models on the closure —
        // the production PQ encode shape, with the QUANTIZED assign
        val codes = embs.select($"vec_id", $"embedding")
          .as[(Long, Array[Float])]
          .mapPartitions { it =>
            it.map { case (id, v) =>
              val cs = Array.tabulate(PqM)(b =>
                models(b).assign(v.slice(b * PqSubDim, (b + 1) * PqSubDim)))
              (id, cs(0), cs(1), cs(2), cs(3))
            }
          }.toDF("vec_id", "c0", "c1", "c2", "c3")
        val qdist = (0 until PqM).map { b =>
          val qs = queryVecF.slice(b * PqSubDim, (b + 1) * PqSubDim)
          val tab = (0 until PqK).map(cell => models(b).quantDist(qs, cell))
          element_at(typedlit(tab), col(s"c$b") + 1)
        }.reduce(_ + _)
        codes.select($"vec_id", qdist.as("qdist"))
          .orderBy($"qdist", $"vec_id").limit(5)
      },
      Some {
        val blocks = (0 until PqM).map(b =>
          blockLloydCtes(s"b$b", PqK, PqIters, PqSalt + b, b * PqSubDim, PqSubDim))
        val terms = (0 until PqM).map { b =>
          s"""t$b AS (
             |  SELECT a.vec_id,
             |    SUM(CAST(floor((q.qv[c.pos + 1] - c.c) * (q.qv[c.pos + 1] - c.c)
             |                   * ${KMeans.DistQuantum}) AS BIGINT)) AS t
             |  FROM a${PqIters}_b$b a JOIN cent${PqIters}_b$b c ON a.cell = c.cell, q
             |  GROUP BY a.vec_id)""".stripMargin
        }
        s"""WITH q AS (SELECT CAST($queryVecFSql AS DOUBLE[]) AS qv),
           |${(blocks ++ terms).mkString(",\n")}
           |SELECT t0.vec_id,
           |  CAST(t0.t + t1.t + t2.t + t3.t AS BIGINT) AS qdist
           |FROM t0 JOIN t1 USING (vec_id) JOIN t2 USING (vec_id)
           |  JOIN t3 USING (vec_id)
           |ORDER BY qdist, vec_id LIMIT 5""".stripMargin
      }),

    // ----- q346: the IVF-PQ COMPOSITION, oracle-checked end to end —
    // the production ANN shape (coarse cells decide WHICH rows a
    // query scans, PQ codes decide what each scanned row COSTS) that
    // q158 and q160 each verified half of. The coarse quantizer is
    // the q158 replayable Lloyd; the probe set is derived by the same
    // quantized-distance ordinal (never trusted); the 4 block
    // trainings and the integer-quanta ADC are q160's; the ADC here
    // runs over ONLY the 2 probed cells' rows. Zero tolerance: every
    // distance is a BIGINT on both engines. PqSearchSpec keeps the
    // float searchIvfPq as the production surface with its recall
    // spec; this row value-checks the composition's semantics.
    QueryDef(
      "q346_ivfpq_replay",
      (s, d) => {
        import s.implicits._
        val embs = Tables.embeddings(s, d)
        val coarse = KMeans.train(embs, "vec_id", "embedding", K, Iters, Salt)
        val cells = KMeans.assignCells(embs, "vec_id", "embedding", coarse)
          .select($"vec_id", $"cell")
        def sliced(b: Int) = embs.select($"vec_id",
          slice($"embedding", b * PqSubDim + 1, PqSubDim).as("sub"))
        val models = (0 until PqM).map(b =>
          KMeans.train(sliced(b), "vec_id", "sub", PqK, PqIters, PqSalt + b)).toArray
        val codes = embs.select($"vec_id", $"embedding")
          .as[(Long, Array[Float])]
          .mapPartitions { it =>
            it.map { case (id, v) =>
              val cs = Array.tabulate(PqM)(b =>
                models(b).assign(v.slice(b * PqSubDim, (b + 1) * PqSubDim)))
              (id, cs(0), cs(1), cs(2), cs(3))
            }
          }.toDF("vec_id", "c0", "c1", "c2", "c3")
        val probes = coarse.centroids.indices
          .sortBy(c => (coarse.quantDist(queryVecF, c), c)).take(2)
        val qdist = (0 until PqM).map { b =>
          val qs = queryVecF.slice(b * PqSubDim, (b + 1) * PqSubDim)
          val tab = (0 until PqK).map(cell => models(b).quantDist(qs, cell))
          element_at(typedlit(tab), col(s"c$b") + 1)
        }.reduce(_ + _)
        codes.join(cells, "vec_id")
          .filter($"cell".isin(probes: _*))
          .select($"vec_id", $"cell".cast("long").as("cell"), qdist.as("qdist"))
          .orderBy($"qdist", $"vec_id").limit(5)
      },
      Some {
        val blocks = (0 until PqM).map(b =>
          blockLloydCtes(s"b$b", PqK, PqIters, PqSalt + b, b * PqSubDim, PqSubDim))
        val terms = (0 until PqM).map { b =>
          s"""t$b AS (
             |  SELECT a.vec_id,
             |    SUM(CAST(floor((q.qv[c.pos + 1] - c.c) * (q.qv[c.pos + 1] - c.c)
             |                   * ${KMeans.DistQuantum}) AS BIGINT)) AS t
             |  FROM a${PqIters}_b$b a JOIN cent${PqIters}_b$b c ON a.cell = c.cell, q
             |  GROUP BY a.vec_id)""".stripMargin
        }
        s"""${lloydCtes(K, Iters, Salt)},
           |q AS (SELECT CAST($queryVecFSql AS DOUBLE[]) AS qv),
           |probe AS (
           |  SELECT cell FROM (
           |    SELECT c.cell,
           |      SUM(CAST(floor((q.qv[c.pos + 1] - c.c) * (q.qv[c.pos + 1] - c.c)
           |                     * ${KMeans.DistQuantum}) AS BIGINT)) AS dq
           |    FROM cent$Iters c, q
           |    GROUP BY c.cell
           |    ORDER BY dq, cell LIMIT 2)),
           |${(blocks ++ terms).mkString(",\n")}
           |SELECT t0.vec_id, CAST(ac.cell AS BIGINT) AS cell,
           |  CAST(t0.t + t1.t + t2.t + t3.t AS BIGINT) AS qdist
           |FROM t0 JOIN t1 USING (vec_id) JOIN t2 USING (vec_id)
           |  JOIN t3 USING (vec_id)
           |JOIN a$Iters ac ON ac.vec_id = t0.vec_id
           |WHERE ac.cell IN (SELECT cell FROM probe)
           |ORDER BY qdist, vec_id LIMIT 5""".stripMargin
      }),

    // ----- q163: principal-component projection (operators.Pca) —
    // power iteration on the exact integer Gram, so the oracle replays
    // the ENTIRE spectral pipeline (pcaOracle above): means, centered
    // Gram, five unrolled iteration steps, Rayleigh eigenvalue, and
    // every document's pc1 projection, all BIGINT-exact. The scalar
    // lambda/evr_milli ride every row so the eigenvalue itself is
    // value-checked, not just the per-row projections.
    QueryDef(
      "q163_pca_project",
      (s, d) => {
        import s.implicits._
        val embs = Tables.embeddings(s, d)
        val r = Pca.fit(embs, "embedding", PcaIters)
        Pca.project(embs, "vec_id", "embedding", r)
          .select($"vec_id", $"pc1",
            lit(r.lambda).as("lambda"),
            lit(r.evrMilli).as("evr_milli"))
          .orderBy($"vec_id")
      },
      Some(pcaOracle)),

    // ----- q174: deterministic DBSCAN (operators.Dbscan) — the
    // density-clustering family: cosine neighborhoods (the exact q37
    // grid join), core rule |N|+1 ≥ minPts, clusters = components of
    // the core subgraph, border = min-rep over core neighbors (the
    // deterministic refinement of classical DBSCAN's scan-order
    // border ties), noise = −1. Oracle: brute-force neighbor pairs +
    // recursive-CTE reachability (the q51 closure pattern) + the
    // identical role CASE.
    QueryDef(
      "q174_dbscan",
      (s, d) => graft.operators.Dbscan.cluster(
        Tables.embeddings(s, d), "vec_id", "embedding",
        eps = 0.35, minPts = 3),
      Some("""WITH RECURSIVE p AS MATERIALIZED (
             |  SELECT a.vec_id AS ia, b.vec_id AS ib
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                               CAST(b.embedding AS DOUBLE[])) > 0.35),
             |adj AS (SELECT ia AS id, ib AS nb FROM p
             |        UNION ALL SELECT ib, ia FROM p),
             |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
             |        FROM adj GROUP BY 1),
             |roles AS (
             |  SELECT e.vec_id AS id,
             |    COALESCE(d.deg, 0) + 1 >= 3 AS is_core
             |  FROM embeddings e LEFT JOIN deg d ON e.vec_id = d.id),
             |ce AS (SELECT p.ia AS u, p.ib AS v FROM p
             |       JOIN roles ra ON ra.id = p.ia AND ra.is_core
             |       JOIN roles rb ON rb.id = p.ib AND rb.is_core),
             |cedges AS (SELECT u, v FROM ce UNION ALL SELECT v, u FROM ce),
             |reach(src, node) AS (
             |  SELECT id, id FROM roles WHERE is_core
             |  UNION
             |  SELECT r.src, ed.v FROM reach r JOIN cedges ed ON r.node = ed.u),
             |comp AS (SELECT src AS id, MIN(node) AS rep FROM reach GROUP BY src),
             |br AS (
             |  SELECT a.id, MIN(c.rep) AS brep
             |  FROM adj a JOIN comp c ON a.nb = c.id
             |  GROUP BY a.id)
             |SELECT r.id,
             |  CASE WHEN r.is_core THEN 'core'
             |       WHEN b.brep IS NOT NULL THEN 'border'
             |       ELSE 'noise' END AS role,
             |  CAST(CASE WHEN r.is_core THEN c.rep
             |            WHEN b.brep IS NOT NULL THEN b.brep
             |            ELSE -1 END AS BIGINT) AS cluster
             |FROM roles r
             |LEFT JOIN comp c ON r.id = c.id
             |LEFT JOIN br b ON r.id = b.id
             |ORDER BY r.id""".stripMargin)),

    // ----- q200: simplified silhouette per label cluster
    // (operators.Silhouette) — the clustering-QUALITY read-out next
    // to q118 (assignments) and q174 (density roles): a = quantized
    // L2² to own centroid, b = min to any other, s = (b−a)/max(a,b)
    // micro-snapped, averaged per cluster. O(n·d·k), never pairwise.
    // The oracle replays the identical KMeans-quantum centroid sums
    // and per-dim integer distance terms, so the score hash-matches.
    QueryDef(
      "q200_silhouette",
      (s, d) => graft.operators.Silhouette.byCluster(
        Tables.embeddings(s, d), "vec_id", "embedding", "label"),
      Some {
        val Q = graft.operators.KMeans.SumQuantum
        val DQ = graft.operators.KMeans.DistQuantum
        s"""WITH dims AS MATERIALIZED (
           |  SELECT vec_id AS id, CAST(label AS BIGINT) AS lbl,
           |    CAST(unnest(embedding) AS DOUBLE) AS v,
           |    unnest(list_transform(range(0, len(embedding)), p -> p)) AS pos
           |  FROM embeddings),
           |cent AS MATERIALIZED (
           |  SELECT lbl AS clbl, pos,
           |    (CAST(SUM(CAST(floor(v * $Q) AS BIGINT)) AS DOUBLE)
           |      / count(*)) / $Q AS comp
           |  FROM dims GROUP BY 1, 2),
           |d2 AS (
           |  SELECT d.id, d.lbl, c.clbl,
           |    CAST(SUM(CAST(floor((d.v - c.comp) * (d.v - c.comp) * $DQ)
           |      AS BIGINT)) AS BIGINT) AS d2
           |  FROM dims d JOIN cent c ON d.pos = c.pos
           |  GROUP BY 1, 2, 3),
           |ab AS (
           |  SELECT id, lbl,
           |    MIN(CASE WHEN clbl = lbl THEN d2 END) AS a2,
           |    MIN(CASE WHEN clbl <> lbl THEN d2 END) AS b2
           |  FROM d2 GROUP BY 1, 2),
           |sil AS (
           |  SELECT id, lbl,
           |    CASE WHEN b2 IS NULL THEN 0
           |         WHEN GREATEST(a2, b2) = 0 THEN 0
           |         ELSE CAST(floor(CAST(b2 - a2 AS DOUBLE)
           |           / CAST(GREATEST(a2, b2) AS DOUBLE) * 1000000 + 0.5)
           |           AS BIGINT) END AS sil_micro
           |  FROM ab)
           |SELECT lbl AS label, CAST(count(*) AS BIGINT) AS n,
           |  CAST(floor(CAST(SUM(sil_micro) AS DOUBLE) / count(*) + 0.5)
           |    AS BIGINT) AS mean_sil_micro
           |FROM sil GROUP BY 1
           |ORDER BY label""".stripMargin
      }),

    // ----- q236: 1-D two-component Gaussian mixture by EM — the SOFT
    // counterpart to q118's hard Lloyd assignments, fitted to customer
    // account balances (dollars). 3 fixed EM iterations, the whole
    // recurrence oracle-replayed: mean-split initialization from exact
    // moments, every per-row responsibility snapped to a MILLI weight
    // through ONE fixed double expression (ln/exp on micro-snapped
    // params — the q96 libm discipline), exact BIGINT weighted-moment
    // sums, and micro-snapped parameter assembly per round, so both
    // engines walk bit-identical parameter sequences. Headroom:
    // Σ w·x² ≤ 10³·10⁸·n keeps the BIGINT sums exact to ~2^43 rows;
    // past that the KMeans decimal(38) combine note applies.
    QueryDef(
      "q236_gmm_em",
      (s, d) => {
        import s.implicits._
        val xs = Tables.customer(s, d)
          .select(floor($"c_acctbal").cast("long").as("x"))
          .transform(graft.operators.Iterate.truncate)  // 1 + 3 scans: init split + per-round E-steps
        val mom = xs.agg(count(lit(1)).as("n"),
          sum($"x").as("sx"), sum($"x" * $"x").as("sxx"))
        val m0 = mom.select($"n", $"sx", $"sxx",
          floor($"sx".cast("double") * 1000000.0 / $"n" + lit(0.5))
            .cast("long").as("m0m"))
        val halves = xs.crossJoin(m0)
          .select($"x", ($"x" * lit(1000000L) < $"m0m").as("lo"),
            $"n", $"sx", $"sxx")
          .groupBy($"n", $"sx", $"sxx")
          .agg(sum(when($"lo", 1L).otherwise(0L)).as("n1"),
            sum(when($"lo", $"x").otherwise(0L)).as("sx1"))
        var par = halves.select(
          floor($"n1".cast("double") * 1000000.0 / $"n" + lit(0.5))
            .cast("long").as("p1m"),
          floor($"sx1".cast("double") * 1000000.0 / $"n1" + lit(0.5))
            .cast("long").as("mu1m"),
          floor(($"sx" - $"sx1").cast("double") * 1000000.0 / ($"n" - $"n1")
            + lit(0.5)).cast("long").as("mu2m"),
          greatest(floor(($"sxx".cast("double") / $"n"
              - ($"sx".cast("double") / $"n") * ($"sx".cast("double") / $"n"))
            * 1000000.0 + lit(0.5)).cast("long"), lit(1L)).as("s1m"))
          .select($"p1m", $"mu1m", $"mu2m", $"s1m", $"s1m".as("s2m"))
          .transform(graft.operators.Iterate.truncate)
        for (_ <- 1 to 3) {
          val a = log($"p1m".cast("double") / 1000000.0) -
            log((lit(1000000.0) - $"p1m".cast("double")) / 1000000.0) -
            lit(0.5) * (log($"s1m".cast("double") / 1000000.0) -
              log($"s2m".cast("double") / 1000000.0)) -
            ($"x" - $"mu1m".cast("double") / 1000000.0) *
              ($"x" - $"mu1m".cast("double") / 1000000.0) /
              (lit(2.0) * ($"s1m".cast("double") / 1000000.0)) +
            ($"x" - $"mu2m".cast("double") / 1000000.0) *
              ($"x" - $"mu2m".cast("double") / 1000000.0) /
              (lit(2.0) * ($"s2m".cast("double") / 1000000.0))
          val resp = xs.crossJoin(par)
            .select($"x",
              floor(lit(1000.0) / (lit(1.0) + exp(-a)) + lit(0.5))
                .cast("long").as("r"))
          val sums = resp.agg(count(lit(1)).as("n"),
            sum($"r").as("sw1"),
            sum($"r" * $"x").as("swx1"),
            sum($"r" * $"x" * $"x").as("sq1"),
            sum(lit(1000L) - $"r").as("sw2"),
            sum((lit(1000L) - $"r") * $"x").as("swx2"),
            sum((lit(1000L) - $"r") * $"x" * $"x").as("sq2"))
          par = sums.select(
            floor($"sw1".cast("double") * 1000.0 / $"n" + lit(0.5))
              .cast("long").as("p1m"),
            floor($"swx1".cast("double") * 1000000.0
              / greatest($"sw1", lit(1L)).cast("double") + lit(0.5))
              .cast("long").as("mu1m"),
            floor($"swx2".cast("double") * 1000000.0
              / greatest($"sw2", lit(1L)).cast("double") + lit(0.5))
              .cast("long").as("mu2m"),
            greatest(floor(($"sq1".cast("double") / greatest($"sw1", lit(1L))
                - ($"swx1".cast("double") / greatest($"sw1", lit(1L)))
                  * ($"swx1".cast("double") / greatest($"sw1", lit(1L))))
              * 1000000.0 + lit(0.5)).cast("long"), lit(1L)).as("s1m"),
            greatest(floor(($"sq2".cast("double") / greatest($"sw2", lit(1L))
                - ($"swx2".cast("double") / greatest($"sw2", lit(1L)))
                  * ($"swx2".cast("double") / greatest($"sw2", lit(1L))))
              * 1000000.0 + lit(0.5)).cast("long"), lit(1L)).as("s2m"))
            .transform(graft.operators.Iterate.truncate)
        }
        par.select(lit(1L).as("component"), $"p1m".as("pi_micro"),
            $"mu1m".as("mu_micro"), $"s1m".as("var_micro"))
          .unionAll(par.select(lit(2L).as("component"),
            (lit(1000000L) - $"p1m").as("pi_micro"),
            $"mu2m".as("mu_micro"), $"s2m".as("var_micro")))
          .orderBy($"component")
      },
      Some {
        def respSums(t: Int): String = {
          val a = s"""ln(p.p1m / 1000000.0)
                     | - ln((1000000.0 - p.p1m) / 1000000.0)
                     | - 0.5 * (ln(p.s1m / 1000000.0) - ln(p.s2m / 1000000.0))
                     | - (c.x - p.mu1m / 1000000.0) * (c.x - p.mu1m / 1000000.0)
                     |   / (2.0 * (p.s1m / 1000000.0))
                     | + (c.x - p.mu2m / 1000000.0) * (c.x - p.mu2m / 1000000.0)
                     |   / (2.0 * (p.s2m / 1000000.0))""".stripMargin
          s"""resp$t AS MATERIALIZED (
             |  SELECT c.x,
             |    CAST(floor(1000.0 / (1.0 + exp(-($a))) + 0.5) AS BIGINT) AS r
             |  FROM xs c CROSS JOIN par${t - 1} p),
             |m$t AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(SUM(r) AS BIGINT) AS sw1,
             |    CAST(SUM(r * x) AS BIGINT) AS swx1,
             |    CAST(SUM(r * x * x) AS BIGINT) AS sq1,
             |    CAST(SUM(1000 - r) AS BIGINT) AS sw2,
             |    CAST(SUM((1000 - r) * x) AS BIGINT) AS swx2,
             |    CAST(SUM((1000 - r) * x * x) AS BIGINT) AS sq2
             |  FROM resp$t),
             |par$t AS MATERIALIZED (
             |  SELECT
             |    CAST(floor(CAST(sw1 AS DOUBLE) * 1000.0 / n + 0.5) AS BIGINT)
             |      AS p1m,
             |    CAST(floor(CAST(swx1 AS DOUBLE) * 1000000.0
             |      / CAST(GREATEST(sw1, 1) AS DOUBLE) + 0.5) AS BIGINT) AS mu1m,
             |    CAST(floor(CAST(swx2 AS DOUBLE) * 1000000.0
             |      / CAST(GREATEST(sw2, 1) AS DOUBLE) + 0.5) AS BIGINT) AS mu2m,
             |    GREATEST(CAST(floor((CAST(sq1 AS DOUBLE) / GREATEST(sw1, 1)
             |        - (CAST(swx1 AS DOUBLE) / GREATEST(sw1, 1))
             |          * (CAST(swx1 AS DOUBLE) / GREATEST(sw1, 1)))
             |      * 1000000.0 + 0.5) AS BIGINT), 1) AS s1m,
             |    GREATEST(CAST(floor((CAST(sq2 AS DOUBLE) / GREATEST(sw2, 1)
             |        - (CAST(swx2 AS DOUBLE) / GREATEST(sw2, 1))
             |          * (CAST(swx2 AS DOUBLE) / GREATEST(sw2, 1)))
             |      * 1000000.0 + 0.5) AS BIGINT), 1) AS s2m
             |  FROM m$t)""".stripMargin
        }
        s"""WITH xs AS MATERIALIZED (
           |  SELECT CAST(floor(c_acctbal) AS BIGINT) AS x FROM customer),
           |mom AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
           |    CAST(SUM(x * x) AS BIGINT) AS sxx
           |  FROM xs),
           |m0 AS (
           |  SELECT n, sx, sxx,
           |    CAST(floor(CAST(sx AS DOUBLE) * 1000000.0 / n + 0.5) AS BIGINT)
           |      AS m0m
           |  FROM mom),
           |halves AS (
           |  SELECT m.n, m.sx, m.sxx,
           |    CAST(SUM(CASE WHEN c.x * 1000000 < m.m0m THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n1,
           |    CAST(SUM(CASE WHEN c.x * 1000000 < m.m0m THEN c.x ELSE 0 END)
           |      AS BIGINT) AS sx1
           |  FROM xs c CROSS JOIN m0 m
           |  GROUP BY m.n, m.sx, m.sxx),
           |par0 AS MATERIALIZED (
           |  SELECT
           |    CAST(floor(CAST(n1 AS DOUBLE) * 1000000.0 / n + 0.5) AS BIGINT)
           |      AS p1m,
           |    CAST(floor(CAST(sx1 AS DOUBLE) * 1000000.0 / n1 + 0.5) AS BIGINT)
           |      AS mu1m,
           |    CAST(floor(CAST(sx - sx1 AS DOUBLE) * 1000000.0 / (n - n1) + 0.5)
           |      AS BIGINT) AS mu2m,
           |    GREATEST(CAST(floor((CAST(sxx AS DOUBLE) / n
           |        - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
           |      * 1000000.0 + 0.5) AS BIGINT), 1) AS s1m,
           |    GREATEST(CAST(floor((CAST(sxx AS DOUBLE) / n
           |        - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
           |      * 1000000.0 + 0.5) AS BIGINT), 1) AS s2m
           |  FROM halves),
           |${(1 to 3).map(respSums).mkString(",\n")}
           |SELECT 1::BIGINT AS component, p1m AS pi_micro, mu1m AS mu_micro,
           |  s1m AS var_micro FROM par3
           |UNION ALL
           |SELECT 2::BIGINT, 1000000 - p1m, mu2m, s2m FROM par3
           |ORDER BY component""".stripMargin
      }),

    // ----- q247: isolation forest (Liu, Ting & Zhou 2008) — the
    // model-based anomaly member next to the distributional tests
    // (q246 names extreme VALUES; isolation names extreme POINTS in a
    // multi-feature space): 4 trees × 5 levels over (account balance,
    // order count) per customer. Every "random" choice is the
    // three-surface portable hash of (tree, node) — split dimension
    // from one salt, split value uniform on the node's integer range
    // from another — so the whole forest is a pure function of the
    // data and both engines grow IDENTICAL trees; the oracle unrolls
    // all 5 levels as stats/split/reassign CTE triples. A row's
    // depth = the level its node count hits 1 (or the node range
    // collapses; 5 if never isolated); score = mean depth — LOW is
    // anomalous. The min-guaranteed progress property (split value in
    // [mn, mx−1] sends the node min left and max right) keeps every
    // split non-degenerate. Scale shape: per level one (tree, node)-
    // keyed aggregate + broadcast-joinable split table (≤ T·2^level
    // rows — never data-sized).
    QueryDef(
      "q247_isolation_forest",
      (s, d) => {
        import s.implicits._
        val T = 4; val D = 5
        val SaltDim = 247L; val SaltVal = 248L
        val rows = Tables.customer(s, d)
          .select($"c_custkey".as("id"),
            floor($"c_acctbal").cast("long").as("f1"))
          .join(Tables.orders(s, d).groupBy($"o_custkey")
            .agg(count(lit(1)).as("oc"))
            .select($"o_custkey".as("id"), $"oc"), Seq("id"), "left")
          .select($"id", $"f1", coalesce($"oc", lit(0L)).as("f2"))
          .transform(graft.operators.Iterate.truncate)
        val trees = s.range(0, T).toDF("t")
        var assign = rows.crossJoin(broadcast(trees))
          .select($"t", $"id", $"f1", $"f2", lit(1L).as("nid"),
            lit(null).cast("long").as("depth"))
          .transform(graft.operators.Iterate.truncate)
        for (l <- 0 until D) {
          val stats = assign.filter($"depth".isNull)
            .groupBy($"t", $"nid")
            .agg(count(lit(1)).as("cnt"),
              min($"f1").as("mn1"), max($"f1").as("mx1"),
              min($"f2").as("mn2"), max($"f2").as("mx2"))
          val splits = stats
            .withColumn("dim",
              Sampling.hashBits($"t" * 65536 + $"nid", SaltDim) % 2)
            .withColumn("mn", when($"dim" === 0, $"mn1").otherwise($"mn2"))
            .withColumn("mx", when($"dim" === 0, $"mx1").otherwise($"mx2"))
            .withColumn("sv", when($"mx" > $"mn", $"mn"
              + Sampling.hashBits($"t" * 65536 + $"nid", SaltVal)
                % ($"mx" - $"mn")))
            .select($"t", $"nid", $"cnt", $"dim", $"mx", $"mn", $"sv")
          assign = assign.join(splits, Seq("t", "nid"), "left")
            .select($"t", $"id", $"f1", $"f2",
              when($"depth".isNotNull, $"nid")
                .when($"cnt" === 1 || $"mx" === $"mn", $"nid")
                .otherwise($"nid" * 2
                  + when((when($"dim" === 0, $"f1").otherwise($"f2")) > $"sv",
                      1L).otherwise(0L)).as("nid"),
              when($"depth".isNotNull, $"depth")
                .when($"cnt" === 1 || $"mx" === $"mn", lit(l.toLong))
                .otherwise(lit(null).cast("long")).as("depth"))
            .transform(graft.operators.Iterate.truncate)
        }
        assign
          .select($"t", $"id", coalesce($"depth", lit(D.toLong)).as("depth"))
          .groupBy($"id").agg(sum($"depth").as("sdepth"))
          .select($"id", ($"sdepth" * lit(1000L / T)).as("score_milli"))
          .join(rows, "id")
          .select($"id".as("c_custkey"), $"f1", $"f2", $"score_milli")
          .orderBy($"score_milli", $"c_custkey").limit(20)
      },
      Some {
        val T = 4; val D = 5
        val hDim = Sampling.hashBitsSql("(t * 65536 + nid)", 247L)
        val hVal = Sampling.hashBitsSql("(t * 65536 + nid)", 248L)
        def level(l: Int): String =
          s"""st$l AS (
             |  SELECT t, nid, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(min(f1) AS BIGINT) AS mn1, CAST(max(f1) AS BIGINT) AS mx1,
             |    CAST(min(f2) AS BIGINT) AS mn2, CAST(max(f2) AS BIGINT) AS mx2
             |  FROM a$l WHERE depth IS NULL GROUP BY 1, 2),
             |sp$l AS MATERIALIZED (
             |  SELECT t, nid, cnt, dim,
             |    CASE WHEN dim = 0 THEN mn1 ELSE mn2 END AS mn,
             |    CASE WHEN dim = 0 THEN mx1 ELSE mx2 END AS mx,
             |    CASE WHEN (CASE WHEN dim = 0 THEN mx1 ELSE mx2 END)
             |            > (CASE WHEN dim = 0 THEN mn1 ELSE mn2 END)
             |      THEN (CASE WHEN dim = 0 THEN mn1 ELSE mn2 END)
             |        + ($hVal)
             |          % ((CASE WHEN dim = 0 THEN mx1 ELSE mx2 END)
             |            - (CASE WHEN dim = 0 THEN mn1 ELSE mn2 END))
             |      ELSE NULL END AS sv
             |  FROM (SELECT *, ($hDim) % 2 AS dim FROM st$l)),
             |a${l + 1} AS MATERIALIZED (
             |  SELECT a.t, a.id, a.f1, a.f2,
             |    CASE WHEN a.depth IS NOT NULL THEN a.nid
             |      WHEN s.cnt = 1 OR s.mx = s.mn THEN a.nid
             |      ELSE a.nid * 2 + (CASE WHEN
             |        (CASE WHEN s.dim = 0 THEN a.f1 ELSE a.f2 END) > s.sv
             |        THEN 1 ELSE 0 END) END AS nid,
             |    CASE WHEN a.depth IS NOT NULL THEN a.depth
             |      WHEN s.cnt = 1 OR s.mx = s.mn THEN CAST($l AS BIGINT)
             |      ELSE NULL END AS depth
             |  FROM a$l a LEFT JOIN sp$l s ON a.t = s.t AND a.nid = s.nid)""".stripMargin
        s"""WITH rows0 AS MATERIALIZED (
           |  SELECT c.c_custkey AS id, CAST(floor(c.c_acctbal) AS BIGINT) AS f1,
           |    COALESCE(o.oc, 0) AS f2
           |  FROM customer c LEFT JOIN (
           |    SELECT o_custkey, CAST(count(*) AS BIGINT) AS oc
           |    FROM orders GROUP BY 1) o ON o.o_custkey = c.c_custkey),
           |a0 AS MATERIALIZED (
           |  SELECT tr.t, r.id, r.f1, r.f2, 1::BIGINT AS nid,
           |    NULL::BIGINT AS depth
           |  FROM rows0 r CROSS JOIN
           |    (SELECT CAST(unnest(range(0, $T)) AS BIGINT) AS t) tr),
           |${(0 until D).map(level).mkString(",\n")},
           |scores AS (
           |  SELECT id, CAST(SUM(COALESCE(depth, $D)) AS BIGINT) * ${1000 / T}
           |    AS score_milli
           |  FROM a$D GROUP BY 1)
           |SELECT s.id AS c_custkey, r.f1, r.f2, s.score_milli
           |FROM scores s JOIN rows0 r ON s.id = r.id
           |ORDER BY s.score_milli, c_custkey LIMIT 20""".stripMargin
      }),

    // ----- q288: Mahalanobis embedding outliers — the
    // COVARIANCE-AWARE member of the embedding-QA family (q69 moment
    // stats, q72 robust z-scores, q247 isolation forest): correlated
    // dimensions make Euclidean distance lie about outliers;
    // d² = (x−μ)ᵀ Σ⁻¹ (x−μ) whitens them. Three milli-quantized
    // dims, exact BIGINT moments in ONE distributed pass, the 3×3
    // inverse assembled driver-side from exact integers via the
    // adjugate (the q194 det3 discipline — the oracle regenerates
    // the identical cofactor text), then one fixed per-row chain and
    // a top-20 TakeOrderedAndProject with a total tie-break.
    QueryDef(
      "q288_mahalanobis_outliers",
      (s, d) => {
        import s.implicits._
        val rows = Tables.embeddings(s, d).select($"vec_id",
          floor(element_at($"embedding", 1).cast("double") * 1000 + lit(0.5))
            .cast("long").as("x1"),
          floor(element_at($"embedding", 2).cast("double") * 1000 + lit(0.5))
            .cast("long").as("x2"),
          floor(element_at($"embedding", 3).cast("double") * 1000 + lit(0.5))
            .cast("long").as("x3"))
          .transform(graft.operators.Iterate.truncate) // moments + scoring read it
        val aggs = Seq(count(lit(1)).as("n")) ++
          (1 to 3).map(i => sum(col(s"x$i")).as(s"s$i")) ++
          (for { i <- 1 to 3; j <- i to 3 }
            yield sum(col(s"x$i") * col(s"x$j")).as(s"s$i$j"))
        val m = rows.agg(aggs.head, aggs.tail: _*).head()
        val n = m.getLong(0).toDouble
        def sv(nm: String) = m.getAs[Long](nm).toDouble
        // unnormalized covariance C_ij = n·S_ij − S_i·S_j (exact
        // integers < 2^63, identical double images both engines)
        val c = Array.ofDim[Double](4, 4)
        for { i <- 1 to 3; j <- i to 3 } {
          c(i)(j) = n * sv(s"s$i$j") - sv(s"s$i") * sv(s"s$j")
          c(j)(i) = c(i)(j)
        }
        val det =
          c(1)(1) * (c(2)(2) * c(3)(3) - c(2)(3) * c(3)(2)) -
            c(1)(2) * (c(2)(1) * c(3)(3) - c(2)(3) * c(3)(1)) +
            c(1)(3) * (c(2)(1) * c(3)(2) - c(2)(2) * c(3)(1))
        // adjugate / det, times n² to undo the unnormalized scale:
        // Σ⁻¹_ij = n · adj(C)_ij / det(C) · n — fold one n into each
        // factor so every literal stays a plain double chain
        def inv(i: Int, j: Int): Double = {
          val (a, b, cc, dd) = ((i, j): @unchecked) match {
            case (1, 1) => (c(2)(2), c(3)(3), c(2)(3), c(3)(2))
            case (1, 2) => (c(1)(3), c(3)(2), c(1)(2), c(3)(3))
            case (1, 3) => (c(1)(2), c(2)(3), c(1)(3), c(2)(2))
            case (2, 2) => (c(1)(1), c(3)(3), c(1)(3), c(3)(1))
            case (2, 3) => (c(1)(3), c(2)(1), c(1)(1), c(2)(3))
            case (3, 3) => (c(1)(1), c(2)(2), c(1)(2), c(2)(1))
          }
          (a * b - cc * dd) / det * n * n
        }
        def dmu(i: Int) =
          col(s"x$i").cast("double") - lit(sv(s"s$i") / n)
        val d2 = dmu(1) * dmu(1) * lit(inv(1, 1)) +
          dmu(2) * dmu(2) * lit(inv(2, 2)) +
          dmu(3) * dmu(3) * lit(inv(3, 3)) +
          lit(2.0) * dmu(1) * dmu(2) * lit(inv(1, 2)) +
          lit(2.0) * dmu(1) * dmu(3) * lit(inv(1, 3)) +
          lit(2.0) * dmu(2) * dmu(3) * lit(inv(2, 3))
        rows.select($"vec_id", $"x1", $"x2", $"x3",
            floor(d2 * 1000000 + lit(0.5)).cast("long").as("d2_micro"))
          .orderBy($"d2_micro".desc, $"vec_id")
          .limit(20)
      },
      Some {
        // the same cofactor text, regenerated (not transcribed)
        val dets =
          s"(c11 * (c22 * c33 - c23 * c32_) - c12 * (c21_ * c33 - c23 * c31_)" +
            s" + c13 * (c21_ * c32_ - c22 * c31_))"
        def invSql(i: Int, j: Int) = {
          val (a, b, cc, dd) = ((i, j): @unchecked) match {
            case (1, 1) => ("c22", "c33", "c23", "c32_")
            case (1, 2) => ("c13", "c32_", "c12", "c33")
            case (1, 3) => ("c12", "c23", "c13", "c22")
            case (2, 2) => ("c11", "c33", "c13", "c31_")
            case (2, 3) => ("c13", "c21_", "c11", "c23")
            case (3, 3) => ("c11", "c22", "c12", "c21_")
          }
          s"($a * $b - $cc * $dd) / $dets * CAST(n AS DOUBLE)" +
            s" * CAST(n AS DOUBLE)"
        }
        val sumCols = (1 to 3).map(i =>
          s"CAST(SUM(x$i) AS BIGINT) AS s$i") ++
          (for { i <- 1 to 3; j <- i to 3 }
            yield s"CAST(SUM(x$i * x$j) AS BIGINT) AS s$i$j")
        val covCols = (for { i <- 1 to 3; j <- i to 3 } yield
          s"CAST(n AS DOUBLE) * s$i$j" +
            s" - CAST(s$i AS DOUBLE) * CAST(s$j AS DOUBLE) AS c$i$j") ++
          Seq("CAST(n AS DOUBLE) * s12 - CAST(s2 AS DOUBLE) * CAST(s1 AS DOUBLE) AS c21_",
            "CAST(n AS DOUBLE) * s13 - CAST(s3 AS DOUBLE) * CAST(s1 AS DOUBLE) AS c31_",
            "CAST(n AS DOUBLE) * s23 - CAST(s3 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c32_")
        s"""WITH rows0 AS MATERIALIZED (
           |  SELECT vec_id,
           |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000 + 0.5)
           |      AS BIGINT) AS x1,
           |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000 + 0.5)
           |      AS BIGINT) AS x2,
           |    CAST(floor(CAST(embedding[3] AS DOUBLE) * 1000 + 0.5)
           |      AS BIGINT) AS x3
           |  FROM embeddings),
           |mom AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    ${sumCols.mkString(",\n    ")}
           |  FROM rows0),
           |cov AS (
           |  SELECT n, s1, s2, s3,
           |    ${covCols.mkString(",\n    ")}
           |  FROM mom)
           |SELECT r.vec_id, r.x1, r.x2, r.x3,
           |  CAST(floor((
           |    (CAST(r.x1 AS DOUBLE) - CAST(v.s1 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (CAST(r.x1 AS DOUBLE) - CAST(v.s1 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (${invSql(1, 1)})
           |    + (CAST(r.x2 AS DOUBLE) - CAST(v.s2 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (CAST(r.x2 AS DOUBLE) - CAST(v.s2 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (${invSql(2, 2)})
           |    + (CAST(r.x3 AS DOUBLE) - CAST(v.s3 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (CAST(r.x3 AS DOUBLE) - CAST(v.s3 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (${invSql(3, 3)})
           |    + 2.0 * (CAST(r.x1 AS DOUBLE) - CAST(v.s1 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (CAST(r.x2 AS DOUBLE) - CAST(v.s2 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (${invSql(1, 2)})
           |    + 2.0 * (CAST(r.x1 AS DOUBLE) - CAST(v.s1 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (CAST(r.x3 AS DOUBLE) - CAST(v.s3 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (${invSql(1, 3)})
           |    + 2.0 * (CAST(r.x2 AS DOUBLE) - CAST(v.s2 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (CAST(r.x3 AS DOUBLE) - CAST(v.s3 AS DOUBLE) / CAST(v.n AS DOUBLE))
           |      * (${invSql(2, 3)})
           |    ) * 1000000 + 0.5) AS BIGINT) AS d2_micro
           |FROM rows0 r CROSS JOIN cov v
           |ORDER BY d2_micro DESC, vec_id LIMIT 20""".stripMargin
      }),

    // ----- q308: Local Outlier Factor (Breunig 2000, operators.Lof)
    // over the label-blocked embeddings — the density-RATIO outlier
    // member: q288 Mahalanobis finds global ellipsoid outliers, q247
    // isolation forest sparse axis regions, q174 DBSCAN labels
    // noise; LOF alone finds local outliers inside clusters of
    // differing density. Deterministic variant: micro-snapped cosine
    // distances BEFORE any ordering, exact-k neighbor sets under the
    // (dist, id) total order, nano lrd and milli LOF by round-half-up
    // integer division, NULL on ≥k exact duplicates — propagated
    // STRICTLY: any NULL-lrd neighbor NULLs the point's lof_milli.
    QueryDef(
      "q308_lof",
      (s, d) => graft.operators.Lof.lof(
        Tables.embeddings(s, d), "vec_id", "embedding", "label", k = 5),
      Some("""WITH base AS (
             |  SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v, label
             |  FROM embeddings),
             |pairs AS MATERIALIZED (
             |  SELECT a.id AS ia, b.id AS ib,
             |    CAST(floor((1.0 - list_cosine_similarity(
             |        CAST(a.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])))
             |      * 1000000 + 0.5) AS BIGINT) AS dist
             |  FROM base a JOIN base b
             |    ON a.label = b.label AND a.id <> b.id),
             |knn AS MATERIALIZED (
             |  SELECT ia, ib, dist FROM (
             |    SELECT ia, ib, dist,
             |      ROW_NUMBER() OVER (PARTITION BY ia ORDER BY dist, ib)
             |        AS rk
             |    FROM pairs) WHERE rk <= 5),
             |kd AS (
             |  SELECT ia, CAST(MAX(dist) AS BIGINT) AS kdist,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM knn GROUP BY 1),
             |rch AS (
             |  SELECT k.ia, GREATEST(k.dist, kdo.kdist) AS reach
             |  FROM knn k JOIN kd kdo ON kdo.ia = k.ib),
             |lrd AS (
             |  SELECT ia,
             |    CASE WHEN CAST(SUM(reach) AS BIGINT) = 0 THEN NULL
             |      ELSE (2 * CAST(COUNT(*) AS BIGINT) * 1000000000000
             |          + CAST(SUM(reach) AS BIGINT))
             |        // (2 * CAST(SUM(reach) AS BIGINT)) END AS lrd
             |  FROM rch GROUP BY 1),
             |lofj AS (
             |  SELECT k.ia, CAST(SUM(l.lrd) AS BIGINT) AS slo,
             |    CAST(COUNT(l.lrd) AS BIGINT) AS cntl,
             |    CAST(COUNT(*) AS BIGINT) AS cnt2
             |  FROM knn k JOIN lrd l ON l.ia = k.ib GROUP BY 1)
             |SELECT kd.ia AS id, kd.cnt, kd.kdist, lp.lrd,
             |  CASE WHEN lp.lrd IS NULL OR lofj.slo IS NULL
             |      OR lofj.cntl < lofj.cnt2 THEN NULL
             |    ELSE (2000 * lofj.slo + lofj.cnt2 * lp.lrd)
             |      // (2 * lofj.cnt2 * lp.lrd) END AS lof_milli
             |FROM kd JOIN lrd lp USING (ia) JOIN lofj USING (ia)
             |ORDER BY id""".stripMargin)))
}
