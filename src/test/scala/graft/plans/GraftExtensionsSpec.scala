package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The `spark.sql.extensions` injection path (GraftExtensions) must
  * carry the FULL rule set — GraftOptimizations.rules is the single
  * source of truth behind both it and Graft.install, and this spec
  * drives a real extensions-built session through two of the rules
  * WITHOUT any install() call, so a packaging regression (one rule
  * missing from the extensions class) fails loudly.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** Runs `body` on a NEW session built with only `GraftExtensions`
    * (no install() call), restoring the fixture as active/default after.
    */
  private def withExtensionsSession(body: SparkSession => Unit): Unit = {
    val fixture = spark              // force the shared session FIRST —
    // otherwise the getOrCreate below would CREATE the fixture and the
    // identity assertion compares a session to itself
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      assert(s ne fixture, "getOrCreate must have built a NEW session here")
      body(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("extensions-built session runs the optimizer rules with no install() call") {
    withExtensionsSession { s =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("gext").toString
      Seq(("abc", "abd"), ("a", "abcdef")).toDF("a", "b")
        .write.mode("overwrite").parquet(tmp)
      val df = s.read.parquet(tmp)
      // InferLevenshteinBand fires through the extensions path
      val q1 = df.filter(levenshtein(col("a"), col("b")) <= 1)
      assert(q1.queryExecution.optimizedPlan.toString.contains("abs("),
        "levenshtein band missing — extensions path lost a rule")
      assert(q1.count() === 1L)
      // InferJaccardSizeBand + Hoist fire on a join through the same path
      val tok = "array_distinct(filter(split(trim(%s), '\\\\s+'), x -> x <> ''))"
      val l = df.select(col("a").as("ta"))
      val r = df.select(col("a").as("tb"))
      val j = l.crossJoin(r).filter(expr(
        s"cast(size(array_intersect(${tok.format("ta")}, ${tok.format("tb")})) as double)" +
          s" / size(array_union(${tok.format("ta")}, ${tok.format("tb")})) >= 0.5"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("(0.5 * "), "jaccard band missing from extensions path")
      assert(j.count() === 2L) // the two identical single-token pairs (J = 1)
    }
  }

  test("every catalogue name resolves in spark.sql on an extensions-only session") {
    // one sample call per catalogue entry; a new entry must add one here
    val args = Map(
      "cosine_sim" -> "array(1.0D, 0.0D), array(1.0D, 0.0D)",
      "quant_l2" -> "array(1.5F), array(0.5F), 1024.0D",
      "jaro_winkler" -> "'martha', 'marhta'",
      "sorted_intersect_count" -> "array('a', 'b'), array('b', 'c')",
      "first_band_collision" -> "array(1, 2), array(3, 2), array(false, false), 1",
      "first_common_bounded" -> "array(1L, 4L, 7L), array(4L, 7L), 3, 2",
      "repetition_score" -> "'a b a b', 1",
      "sorted_span_merge" ->
        "array(named_struct('fp', 1L, 'lo', 0, 'hi', 5)), array(named_struct('fp', 1L, 'lo', 2, 'hi', 9))",
      "hll_sketch" -> "7L",
      "cms_sketch" -> "'w'",
      "token_count" -> "'a b c'",
      "bpe_token_count" -> "'a b c'",
      "lang_id" -> "'the cat and the dog'",
      "quality_score" -> "'the cat sat on the mat'",
      "doc_fingerprint" -> "'a b c'",
      "repetition_ratio" -> "'a b a b', 1")
    val names = graft.functions.GraftFunctions.catalogue.map(_._1)
    assert(names.toSet === args.keySet)
    assert(names.distinct.size === names.size)
    withExtensionsSession { s =>
      names.foreach { name =>
        val row = s.sql(s"SELECT $name(${args(name)})").head()
        assert(!row.isNullAt(0), s"$name evaluated to NULL")
      }
      assert(s.sql(s"SELECT cosine_sim(${args("cosine_sim")})").head().getDouble(0) === 1.0)
      assert(s.sql(s"SELECT sorted_intersect_count(${args("sorted_intersect_count")})")
        .head().getInt(0) === 1)
      assert(s.sql(s"SELECT first_common_bounded(${args("first_common_bounded")})")
        .head().getLong(0) === 4L)
      assert(s.sql(s"SELECT repetition_score(${args("repetition_score")})")
        .head().getDouble(0) === 0.5)
    }
  }

  test("Graft.install applies the same list (source-of-truth parity)") {
    val s2 = spark.newSession()
    graft.Graft.install(s2)
    val installed = s2.experimental.extraOptimizations
    GraftOptimizations.rules.foreach { r =>
      assert(installed.contains(r), s"install() missing rule $r")
    }
    assert(GraftOptimizations.rules.size === 5)
  }
}
