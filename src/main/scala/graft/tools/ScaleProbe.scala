package graft.tools

/** One-command decade probe (r13 verdict #6): builds (or reuses) a
  * ×K replica corpus via [[ScaleUp]], times the named queries and
  * artifact builds at BOTH scales through the noop sink (the Bench
  * methodology — count() lets Catalyst prune the plan), and emits a
  * single-line `PROBE_r<N>.json` so every round's new heavies get a
  * decade check by default:
  *
  *   sbt "runMain graft.tools.ScaleProbe 14 q346_,artifact:lpa /root/testdata/sf0.1 10"
  *
  * `src` may also be `longtail:<nDocs>` — both scales are then
  * SYNTHESIZED by [[LongTailCorpus]] (documents table only; probe
  * document-family rows against it): a Zipf long-tail vocabulary
  * with planted near-dup pairs, the selective regime the fixture's
  * 31-word vocabulary can never produce (r14 verdict #5: the ×8.1
  * jacpairs_prefix wall there was OUTPUT-bound — 47.6M true pairs —
  * which also means the probe never exercised candidate pruning).
  * An optional 6th arg labels the run: output becomes
  * `PROBE_r<N>_<label>.json` and the JSON carries the label, so a
  * round can publish BOTH corpus shapes side by side.
  *
  * Per row: rows and wall at the base scale, rows and wall at ×K,
  * and the ratios. The reading discipline (r11/r13 probes): wall
  * ratio well under K means sublinear scaling (good); rows exactly
  * K× pins replica disjointness for pair-producing queries;
  * hash-capped pools stay bounded. Artifact rows (prefix
  * `artifact:`) time the COLD build at each scale after clearing the
  * artifact root, rows = -1 (builds are side-effecting). Queries run
  * AFTER artifacts, so they measure steady-state reads, exactly like
  * a full Bench run.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleProbe <roundN> <prefix1,...> [srcDir|longtail:<nDocs>] [k] [destDir] [label]")
    val round = args(0).toInt
    val prefixes = args(1).split(',').toSeq
    val srcArg = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val k = if (args.length > 3) args(3).toInt else 10
    val longtailDocs: Option[Long] =
      if (srcArg.startsWith("longtail:")) Some(srcArg.drop(9).toLong) else None
    val src =
      longtailDocs.map(n => s"/tmp/graft-lt-$n").getOrElse(srcArg)
    val dest = if (args.length > 4) args(4)
      else longtailDocs.map(n => s"/tmp/graft-lt-$n-x$k")
        .getOrElse(s"/tmp/graft-sfx$k")
    val label = if (args.length > 5) Some(args(5)) else None
    val spark = graft.Graft.mainSession("graft-scale-probe")

    // build the probe corpora once; reuse across probes of the same
    // session/box (both builders are deterministic, so staleness can
    // only come from a regenerated source fixture — delete to refresh)
    longtailDocs match {
      case Some(n) =>
        def have(dir: String) = java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/documents.parquet"))
        if (!have(src)) {
          System.err.println(s"[probe] building long-tail base ($n docs) at $src")
          LongTailCorpus.build(spark, src, n, 1)
        } else System.err.println(s"[probe] reusing long-tail base at $src")
        if (!have(dest)) {
          System.err.println(s"[probe] building long-tail x$k at $dest")
          LongTailCorpus.build(spark, dest, n, k)
        } else System.err.println(s"[probe] reusing long-tail x$k at $dest")
      case None =>
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$dest/lineitem.parquet"))) {
          System.err.println(s"[probe] building x$k corpus at $dest")
          ScaleUp.build(spark, src, dest, k)
        } else System.err.println(s"[probe] reusing x$k corpus at $dest")
    }

    /** (rows, wall): noop-sink materialization, Bench hygiene. */
    def timed(run: () => Long): (Long, Double) = {
      graft.Graft.dropBlocks(spark); System.gc(); Thread.sleep(100)
      val t0 = System.nanoTime()
      val rows = run()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.Graft.dropBlocks(spark)
      (rows, wall)
    }

    val artifactNames = graft.Artifacts.builders.map(_._1)
      .filter(a => prefixes.exists(p => s"artifact:$a".startsWith(p)))
    val queryNames = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(q => prefixes.exists(q.startsWith))
    require(artifactNames.nonEmpty || queryNames.nonEmpty,
      s"no queries or artifacts match ${prefixes.mkString(",")}")

    final case class Probe(rowsBase: Long, wallBase: Double,
      rowsK: Long, wallK: Double)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Probe]

    for (dir <- Seq(src, dest)) {
      // artifacts first, cold (clear the shared root once per scale),
      // then queries against the amortized steady state
      graft.ArtifactCache.clearRoot()
      for (a <- artifactNames) {
        val build = graft.Artifacts.builders.find(_._1 == a).get._2
        System.err.println(s"[probe] artifact:$a @ $dir")
        val (_, wall) = timed(() => { build(spark, dir); -1L })
        val key = s"artifact:$a"
        results(key) =
          if (dir == src) Probe(-1L, wall, -1L, -1.0)
          else results(key).copy(rowsK = -1L, wallK = wall)
      }
      for (q <- queryNames) {
        val fn = graft.SparkEntry.queries(q)
        System.err.println(s"[probe] $q @ $dir")
        val (rows, wall) = timed { () =>
          val df = fn(spark, dir)
          val n = spark.sparkContext.longAccumulator
          df.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            var c = 0L; while (it.hasNext) { it.next(); c += 1 }; n.add(c)
          }
          n.value
        }
        results(q) =
          if (dir == src) Probe(rows, wall, -1L, -1.0)
          else results(q).copy(rowsK = rows, wallK = wall)
      }
    }

    def fmt(d: Double) =
      BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val body = results.map { case (name, p) =>
      val rowRatio =
        if (p.rowsBase > 0) fmt(p.rowsK.toDouble / p.rowsBase) else "null"
      val wallRatio =
        if (p.wallBase > 0) fmt(p.wallK / p.wallBase) else "null"
      s""""$name":{"rows_base":${p.rowsBase},"wall_base":${fmt(p.wallBase)},""" +
        s""""rows_k":${p.rowsK},"wall_k":${fmt(p.wallK)},""" +
        s""""row_ratio":$rowRatio,"wall_ratio":$wallRatio}"""
    }.mkString(",")
    val probeName = label.map(l => s"x$k-$l").getOrElse(s"x$k")
    val json =
      s"""{"probe":"$probeName","round":$round,"src":"$src","dest":"$dest",""" +
      s""""cpus":${graft.Graft.cpus},"queries":{$body}}"""
    val out = label.map(l => s"PROBE_r${round}_$l.json")
      .getOrElse(s"PROBE_r$round.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    System.err.println(s"[probe] wrote $out")
    spark.stop()
  }
}
