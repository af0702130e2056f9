package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Perceptual image dedup: difference-hash (dHash) over the codec's
  * luma grid + pigeonhole-blocked Hamming join — the IMAGE leg of the
  * near-dup family (MinHash/SimHash cover text; multimodal corpora
  * need the same operation over pixels). dHash encodes horizontal
  * luminance GRADIENTS, so it is invariant to uniform brightness/
  * contrast shifts and to re-encoding (the classic near-dup
  * transforms), unlike a byte-level fingerprint.
  *
  * Composition: [[Multimodal.MediaCodec.features]] with dim = 8² IS
  * the row-major 8×8 luma grid under [[Multimodal.ImageIoCodec]]
  * (grid = ceil(√dim), no wraparound at a perfect square), so the
  * hash needs no new codec surface — FakeCodec rides the same path
  * for pipeline tests. L2 normalization inside features() is a
  * positive scalar and cannot flip a gradient comparison.
  *
  * Scale shape (the [[graft.operators.Dedup]] SimHash discipline):
  * hashing is a narrow mapPartitions (decode cost, no shuffle); the
  * Hamming-≤-t join splits the 56 hash bits into t+1 blocks — two
  * hashes within distance t MUST agree exactly on ≥ 1 block
  * (pigeonhole), so candidates come from t+1 equi-joins on (block,
  * value), Σ bucket² work, never n²; verification is one codegen
  * bit_count(xor). Ties to no window, no driver state.
  */
object ImageDedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val Grid = 8
  /** 8 rows × 7 horizontal comparisons. */
  val HashBits: Int = Grid * (Grid - 1)

  /** 56-bit difference hash of one blob: bit (y,x) = [cell(y,x) <
    * cell(y,x+1)] over the codec's 8×8 luma grid.
    */
  def dHash(codec: Multimodal.MediaCodec, content: Array[Byte]): Long =
    dHashOfGrid(codec.features(content, Grid * Grid))

  /** [[dHash]] of an already-materialized 8×8 luma grid (row-major,
    * 64 floats) — the seam [[graft.pipeline.PdfImages]] feeds with
    * grids pooled from raster XObjects it has decoded itself, so one
    * extraction pass yields metadata AND the hash without a second
    * decode behind the codec interface. */
  def dHashOfGrid(f: Array[Float]): Long = {
    require(f.length >= Grid * Grid,
      s"dHashOfGrid needs a ${Grid}x$Grid grid, got ${f.length} cells")
    var h = 0L
    var bit = 0
    var y = 0
    while (y < Grid) {
      var x = 0
      while (x < Grid - 1) {
        if (f(y * Grid + x) < f(y * Grid + x + 1)) h |= (1L << bit)
        bit += 1
        x += 1
      }
      y += 1
    }
    h
  }

  /** (id, phash) per row — narrow decode pass, codec on the closure
    * (per-partition init, the [[Multimodal.extractFeatures]]
    * discipline).
    */
  def withPHash(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      codec: Multimodal.MediaCodec): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) => (id, dHash(codec, bytes)) })
      .toDF(idCol, "phash")
  }

  /** Canonical (id_a < id_b) pairs with Hamming(phash_a, phash_b) ≤
    * `maxHamming`, exactly (pigeonhole blocking guarantees full
    * recall at the threshold) — up to the over-cap degradation
    * documented below. Input: (idCol, phash).
    *
    * Skew shape: the pigeonhole join runs over DISTINCT hash values —
    * a flood of identical images (or any mass of blank/near-blank
    * frames collapsing to few hashes) contributes ONE row per value
    * to the candidate join, not its member count, so Σ bucket² is
    * bounded by distinct-hash bucket sizes. Member pairs are then
    * expanded per qualifying hash pair (cross-hash) and per
    * identical-hash group (within, Hamming 0) — both expansions are
    * output-bound: they emit exactly the true pair set, whose size is
    * the answer, not an intermediate. The skinny distinct-hash frame
    * is persisted across its t+1 reuses so the decode lineage above
    * it runs once; the CALLER owns releasing that storage after
    * materializing the returned (lazy) frame — `spark.catalog
    * .clearCache()`, the caller-owned cache-release contract
    * documented once in ARCHITECTURE.md ("Scale design" §) and shared
    * with [[graft.operators.GraphOps.triangleStats]].
    *
    * Mega-bucket guard (the [[graft.operators.Dedup]] star-cap
    * discipline, r15 carried task): a corpus of NEAR-blank scans
    * produces many DISTINCT-but-close hashes whose shared block value
    * lands them in one (block, value) bucket — Σ d² over distinct
    * hashes is then unbounded even though the identical-hash collapse
    * holds. Buckets over `bucketCap` distinct hashes are sub-split
    * EXACTLY one more pigeonhole level: their members agree on block
    * i, so a within-`maxHamming` pair differs only in the COMPLEMENT
    * bits — splitting the complement into `maxHamming + 1` sub-ranges
    * guarantees agreement on one (same argument), and sub-buckets at
    * or under the cap contribute all pairs. Only a sub-bucket STILL
    * over the cap (doubly degenerate: thousands of distinct hashes
    * identical on block AND sub-block) degrades to star pairs against
    * its min hash — observable via a WARN (or an exception under
    * `strict`), the [[graft.operators.Dedup.bucketCandidates]]
    * convention; Hamming verification downstream stays exact, so
    * star pairs never ADD false output, they can only miss far
    * cross-member edges of those buckets.
    */
  def nearDupPairs(
      hashed: DataFrame,
      idCol: String,
      maxHamming: Int,
      bucketCap: Int = 16384,
      strict: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < HashBits,
      s"maxHamming must be in [0, $HashBits), got $maxHamming")
    require(bucketCap > 1, s"bucketCap must exceed 1, got $bucketCap")
    val blocks = maxHamming + 1
    val base = HashBits / blocks
    val rem = HashBits % blocks
    // block widths BALANCED (r18): the first `rem` blocks take the
    // remainder bit each — ⌈56/19⌉ = 3-bit blocks instead of the old
    // floor-width 2-bit blocks with one 20-bit leftover. Bucket count
    // per block goes 2^w, so the old floor widths made every remainder
    // bit a ×2 candidate blowup on the 18 narrow blocks (measured at
    // q202's maxHamming=18: Σ bucket² ≈ 4.5·n² → 2.5·n²). Any split
    // into `blocks` contiguous ranges keeps the pigeonhole guarantee,
    // so candidates stay a superset of the true pairs and the exact
    // Hamming verify downstream pins identical output.
    def blockWidth(i: Int): Int = base + (if (i < rem) 1 else 0)
    def blockOffset(i: Int): Int = i * base + math.min(i, rem)
    import graft.functions.FirstBandCollision.first_band_collision
    // Block keys as ints: widths ≤ 31 bits always (blocks ≥ 2 ⇒
    // width ≤ ⌈56/2⌉; the blocks = 1 case folds through xor — a fold
    // collision only adds a candidate the fused verify drops, and can
    // only make the bucket-size guard trip EARLIER, never later).
    val keyOf = (i: Int) => {
      val w = blockWidth(i)
      val v = shiftright(col("phash"), blockOffset(i))
      if (w <= 31) v.bitwiseAND(lit((1L << w) - 1)).cast("int")
      else v.bitwiseXOR(shiftright(v, 31)).bitwiseAND(lit(0x7fffffffL)).cast("int")
    }
    val uh = hashed.select(col("phash")).distinct().persist()
    val keyed = uh.select(col("phash"),
      array((0 until blocks).map(keyOf): _*).as("keys"))
    val rows0 = keyed.select(col("phash"), col("keys"),
      posexplode(col("keys")).as(Seq("bidx", "bval")))

    // guard trigger, cheapest-first: a bucket holds DISTINCT hashes,
    // so no bucket can exceed the distinct-hash TOTAL — corpora under
    // the cap skip the size aggregation entirely (their only extra
    // cost is a count() on the already-persisted skinny hash frame,
    // which also materializes the cache the join was about to build).
    // Past that, one skinny aggregation (the Dedup.bucketCandidates
    // shape), persisted across its reuses and released on the
    // no-trip path; the guarded path's storage is caller-released
    // with the rest (the scaladoc cache contract).
    val nHashes = uh.count()
    lazy val sizes = rows0.groupBy(col("bidx"), col("bval"))
      .agg(count(lit(1)).as("__n")).persist()
    val nBig =
      if (nHashes <= bucketCap) 0L
      else sizes.filter(col("__n") > bucketCap).count()

    if (nBig == 0) {
      if (nHashes > bucketCap) sizes.unpersist(blocking = false)
      // Fast path (every non-degenerate corpus), r18 shape: the old
      // join emitted one candidate row per SHARED block and
      // `distinct()`-ed — at q202's parameters (19 narrow blocks,
      // maxHamming 18/56) a random pair collides in ~2 blocks and
      // ~90% of ALL pairs collide somewhere, so the distinct shuffled
      // a multiple of the full pair count. Two fixes, both
      // output-invariant:
      //  - FIRST-COLLISION dedup (the Dedup.bandedCandidates /
      //    first_band_collision machinery): each pair is emitted from
      //    exactly its first shared block, in-task, so no duplicate
      //    row ever exists and the distinct disappears;
      //  - the Hamming verify is FUSED INTO THE JOIN CONDITION
      //    (bit_count(ha^hb) ≤ t): the join's only output is the true
      //    pair set — nothing candidate-sized is ever materialized or
      //    shuffled. (Unlike the token-set joins, the verify input IS
      //    the join key source, so fusing costs one popcount per
      //    bucket pair and saves the entire candidate stream.)
      val rows = rows0
        .withColumn("megas", array_repeat(lit(false), lit(blocks)))
        .repartition(col("bidx"), col("bval"))
      val verified = rows.as("l").join(rows.as("r"),
          col("l.bidx") === col("r.bidx") && col("l.bval") === col("r.bval") &&
            col("l.phash") < col("r.phash") &&
            expr("bit_count(l.phash ^ r.phash)") <= maxHamming &&
            first_band_collision(col("l.keys"), col("r.keys"),
              col("l.megas"), col("l.bidx")))
        .select(col("l.phash").as("ha"), col("r.phash").as("hb"))
        .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      return expandPairs(hashed, idCol, verified)
    }

    // Mega-bucket branch, r19: the same first-collision + fused-verify
    // shape one pigeonhole level down. The r18 version emitted one
    // candidate row per shared (sub-)bucket and `distinct()`-ed the
    // full candidate stream — by construction this branch handles the
    // WORST (near-blank-scan) corpora, exactly where that stream
    // explodes. Now every leg fuses `bit_count ≤ t` into its join and
    // emits each pair from a single canonical bucket:
    //  - SMALL leg: first agreeing under-cap block (first_band_collision
    //    over the per-hash mega flags — identical to the fast path);
    //  - SUB leg (pairs whose every agreement is an over-cap block):
    //    first agreeing block overall (zeros-FBC: no agreement at all
    //    before it) + no under-cap agreement anywhere (megas-FBC over
    //    the full width keeps it disjoint from the SMALL leg) + first
    //    agreeing sub-bucket within that block. A within-t pair in an
    //    over-cap block agrees on ≥1 sub-range of the complement
    //    (pigeonhole), so when no sub-bucket is over cap (nBig2 == 0)
    //    the two legs emit exactly the true pair set — NO distinct.
    //  - Only the doubly-degenerate star regime (nBig2 > 0) keeps a
    //    distinct, and it now runs over VERIFIED output-bound pairs,
    //    not the candidate stream: the canonical-emission proof needs
    //    every sub-bucket under cap, so the SUB leg drops its two
    //    cross-block FBC guards (old all-agreements semantics) and the
    //    three legs reconcile by distinct, preserving r18 output.
    log.warn(s"ImageDedup.nearDupPairs: $nBig (block, value) bucket(s) " +
      s"exceed cap=$bucketCap distinct hashes; sub-splitting one more " +
      "pigeonhole level (exact for in-threshold pairs)")
    val flagged = rows0.join(sizes, Seq("bidx", "bval"))
    val megasDf = flagged.groupBy(col("phash")).agg(
      transform(array_sort(collect_list(struct(col("bidx"), (col("__n") > bucketCap).as("m")))),
        s => s.getField("m")).as("megas"))
    // memberships + per-hash mega flags, shared by both legs
    val tagged = flagged.join(megasDf, "phash").persist()

    val small = tagged.filter(col("__n") <= bucketCap)
      .repartition(col("bidx"), col("bval"))
    val smallVerified = small.as("l").join(small.as("r"),
        col("l.bidx") === col("r.bidx") && col("l.bval") === col("r.bval") &&
          col("l.phash") < col("r.phash") &&
          expr("bit_count(l.phash ^ r.phash)") <= maxHamming &&
          first_band_collision(col("l.keys"), col("r.keys"),
            col("l.megas"), col("l.bidx")))
      .select(col("l.phash").as("ha"), col("r.phash").as("hb"))

    // level 2: members agree on block i ⇒ a within-t pair's
    // differing bits all live in the complement; compress the
    // complement (low bits kept, high bits shifted down past the
    // block) and pigeonhole it into t+1 ranges sized from the
    // COMPLEMENT width (HashBits − blockWidth(i)), not the
    // full-width block ranges — otherwise the last sub-range
    // covers only ~2 real bits and its sub-buckets go degenerate
    // far earlier than necessary (r16 ADVICE)
    val bigSub = (0 until blocks).map { i =>
      val lowMask = (1L << blockOffset(i)) - 1
      val comp = col("phash").bitwiseAND(lit(lowMask)).bitwiseOR(
        shiftleft(shiftright(col("phash"), blockOffset(i) + blockWidth(i)),
          blockOffset(i)))
      val compWidth = HashBits - blockWidth(i)
      val base2 = compWidth / blocks
      val subValOf = (j: Int) => {
        val sw = if (j == blocks - 1) compWidth - j * base2 else base2
        val v = shiftright(comp, j * base2)
        if (sw <= 31) v.bitwiseAND(lit((1L << sw) - 1)).cast("int")
        else v.bitwiseXOR(shiftright(v, 31)).bitwiseAND(lit(0x7fffffffL)).cast("int")
      }
      tagged.filter(col("__n") > bucketCap && col("bidx") === i)
        .select(col("phash"), col("keys"), col("megas"), col("bidx"), col("bval"),
          array((0 until blocks).map(subValOf): _*).as("skeys"))
    }.reduce(_ unionByName _)
      .select(col("phash"), col("keys"), col("megas"), col("bidx"), col("bval"),
        col("skeys"), posexplode(col("skeys")).as(Seq("sidx", "sval")))
    val subKeys = Seq("bidx", "bval", "sidx", "sval")
    val subSizes = bigSub.groupBy(subKeys.map(col): _*)
      .agg(count(lit(1)).as("__sn"))
    // subTagged feeds three consumers (the nBig2 count, the
    // sub-bucket pair join twice, the star path) — persist so the
    // bit-surgery union above it runs once (review finding; this
    // IS the pathological-scale branch the guard exists for)
    val subTagged = bigSub.join(subSizes, subKeys).persist()
    val nBig2 = subTagged.filter(col("__sn") > bucketCap)
      .select(subKeys.map(col): _*).distinct().count()
    if (nBig2 > 0 && strict) throw new IllegalStateException(
      s"$nBig2 sub-bucket(s) exceed cap=$bucketCap after one exact " +
        "sub-split; strict mode forbids star-linking (pairwise recall " +
        "of those buckets' far cross-member edges would be lost)")
    if (nBig2 > 0)
      log.warn(s"ImageDedup.nearDupPairs: $nBig2 sub-bucket(s) still " +
        s"over cap=$bucketCap star-link to their min hash " +
        "(component-preserving, pairwise-lossy; verification stays exact)")

    val smegasDf = subTagged.groupBy(col("phash"), col("bidx")).agg(
      transform(array_sort(collect_list(struct(col("sidx"), (col("__sn") > bucketCap).as("m")))),
        s => s.getField("m")).as("smegas"))
    val subAll = subTagged.join(smegasDf, Seq("phash", "bidx"))
    val subSmall = subAll.filter(col("__sn") <= bucketCap)
      .repartition(subKeys.map(col): _*)
    val zeros = array_repeat(lit(false), lit(blocks))
    val subBase = col("l.bidx") === col("r.bidx") && col("l.bval") === col("r.bval") &&
      col("l.sidx") === col("r.sidx") && col("l.sval") === col("r.sval") &&
      col("l.phash") < col("r.phash") &&
      expr("bit_count(l.phash ^ r.phash)") <= maxHamming &&
      first_band_collision(col("l.skeys"), col("r.skeys"),
        col("l.smegas"), col("l.sidx"))
    val subCond =
      if (nBig2 == 0)
        subBase &&
          first_band_collision(col("l.keys"), col("r.keys"), zeros, col("l.bidx")) &&
          first_band_collision(col("l.keys"), col("r.keys"), col("l.megas"), lit(blocks))
      else subBase
    val subVerified = subSmall.as("l").join(subSmall.as("r"), subCond)
      .select(col("l.phash").as("ha"), col("r.phash").as("hb"))

    val exact = smallVerified.unionByName(subVerified)
    val hashPairs0 =
      if (nBig2 == 0) exact
      else {
        val overcap = subTagged.filter(col("__sn") > bucketCap)
        val starPairs = overcap
          .join(overcap.groupBy(subKeys.map(col): _*)
            .agg(min(col("phash")).as("__hmin")), subKeys)
          .filter(col("phash") =!= col("__hmin"))
          .select(least(col("__hmin"), col("phash")).as("ha"),
            greatest(col("__hmin"), col("phash")).as("hb"))
          .filter(expr("bit_count(ha ^ hb)") <= maxHamming)
        exact.unionByName(starPairs).distinct()
      }
    val hashPairs = hashPairs0
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
    expandPairs(hashed, idCol, hashPairs)
  }

  /** Expand verified (ha, hb, hamming) DISTINCT-hash pairs to id pairs:
    * cross-hash members via the two id joins, identical-hash members
    * (Hamming 0) via the within self-join. Both expansions are
    * output-bound — they emit exactly the true pair set.
    */
  private def expandPairs(
      hashed: DataFrame, idCol: String, hashPairs: DataFrame): DataFrame = {
    val a = hashed.select(col(idCol).as("id_a"), col("phash").as("ha"))
    val b = hashed.select(col(idCol).as("id_b"), col("phash").as("hb"))
    val cross = hashPairs.join(a, "ha").join(b, "hb")
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("hamming"))
    val within = a.join(
        hashed.select(col(idCol).as("id_b"), col("phash").as("ha")), "ha")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
    cross.unionByName(within)
  }
}
