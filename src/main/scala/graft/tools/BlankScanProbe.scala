package graft.tools

/** Mega-bucket probe for [[graft.multimodal.ImageDedup.nearDupPairs]]
  * (r15 verdict #3): a NEAR-blank scan corpus — many DISTINCT dHashes
  * whose few set bits all avoid one pigeonhole block, so that block's
  * zero-value bucket holds every distinct hash and the unguarded
  * candidate join goes Σ d² ≈ n². The probe times the guarded
  * operator at n and ×K·n and prints one JSON line
  * (`PROBE_r<N>_blankscan.json`): the reading discipline is
  * wall_ratio ≪ K² (the unguarded shape) — ideally ≈ K — plus an
  * exactness pin at the base scale against brute force.
  *
  *   sbt "runMain graft.tools.BlankScanProbe 16 40000 10 8192"
  */
object BlankScanProbe {
  def main(args: Array[String]): Unit = {
    val round = if (args.length > 0) args(0).toInt else 16
    val n = if (args.length > 1) args(1).toInt else 40000
    val k = if (args.length > 2) args(2).toInt else 10
    val cap = if (args.length > 3) args(3).toInt else 8192
    val spark = graft.Graft.mainSession("graft-blankscan-probe")
    import spark.implicits._

    // near-blank shape: 5 set bits drawn from [18, 56) — block 0 of
    // the t=2 split is 0 for every hash; distinct hashes by
    // construction (id mixed in deterministically, then distinct)
    def corpus(m: Int): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(1616)
      (0 until m).map { i =>
        var h = 0L
        var b = 0
        while (b < 5) { h |= 1L << (18 + rnd.nextInt(38)); b += 1 }
        (i.toLong, h)
      }
    }

    def timePairs(rows: Seq[(Long, Long)], bucketCap: Int): (Long, Double) = {
      val df = graft.Par.spread(rows.toDF("id", "phash"))
      val t0 = System.nanoTime()
      val c = graft.multimodal.ImageDedup
        .nearDupPairs(df, "id", maxHamming = 2, bucketCap = bucketCap)
        .count()
      spark.catalog.clearCache()
      (c, (System.nanoTime() - t0) / 1e9)
    }

    val base = corpus(n)
    // exactness pin at a small scale: guarded == brute force
    val small = base.take(3000)
    val (gc, _) = timePairs(small, cap)
    val brute = (for {
      (ia, ha) <- small; (ib, hb) <- small
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield 1).size
    // distinct-hash pair count (operator emits member pairs; with
    // distinct ids and possible duplicate hashes counts still align
    // because ids are unique per row)
    require(gc == brute, s"guarded=$gc brute=$brute — exactness broken")

    val (cBase, wBase) = timePairs(base, cap)
    val (cK, wK) = timePairs(corpus(n * k), cap)
    val json =
      s"""{"probe":"blankscan","round":$round,"n":$n,"k":$k,"cap":$cap,""" +
      s""""exact_pin":{"pairs":$gc,"brute":$brute},""" +
      s""""pairs_base":$cBase,"wall_base":${f"$wBase%.3f"},""" +
      s""""pairs_k":$cK,"wall_k":${f"$wK%.3f"},""" +
      s""""wall_ratio":${f"${wK / math.max(wBase, 1e-9)}%.3f"}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"PROBE_r${round}_blankscan.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
