package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (1L, base),
      (2L, base),                                          // exact dup of 1
      (3L, base + " extra"),                               // near dup of 1
      (4L, "completely different text about spark shuffle partitions and joins"),
      (5L, "THE  QUICK brown fox jumps over the lazy dog again and again today".toLowerCase),
      (6L, "unrelated short doc")
    ).toDF("doc_id", "text")
  }

  test("exactGroups: dup group found, min id kept") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val dupGroup = g.filter(_._3 > 1)
    assert(dupGroup.length === 1)
    assert(dupGroup.head._2 === 1L)   // representative = min(doc_id)
    assert(dupGroup.head._3 === 2L)
  }

  test("fingerprintDedup: whitespace/case-normalized dups collapse") {
    // doc 5 differs from doc 1 only by double-space (post-lowercase):
    // fingerprint normalization collapses it
    val kept = Dedup.fingerprintDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L, 6L))   // 2 (exact) and 5 (normalized) deduped
  }

  test("minhash: planted near-dups found, unrelated docs not") {
    import spark.implicits._
    val words = (1 to 60).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words.dropRight(3) ++ Seq("x1", "x2", "x3")).mkString(" ")  // ~high overlap
    val c = (1 to 60).map(i => s"z$i").mkString(" ")                     // disjoint
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, a)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(spark, df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))             // identical docs: est jaccard 1
    assert(pairs.contains((1L, 2L)))             // planted near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))  // disjoint doc clean
  }

  test("minhash signature estimates true jaccard") {
    val h = Dedup.MinHasher(numHashes = 256)
    val a = (1 to 100).map(i => s"w$i").mkString(" ")
    val b = ((1 to 80).map(i => s"w$i") ++ (1 to 20).map(i => s"v$i")).mkString(" ")
    val sa = h.signature(a); val sb = h.signature(b)
    val est = h.estJaccard(sa, sb)
    val shA = h.shingles(a); val shB = h.shingles(b)
    val exact = shA.intersect(shB).size.toDouble / shA.union(shB).size
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
    assert(h.estJaccard(sa, sa) === 1.0)
  }

  test("simhash: small perturbation → small hamming; disjoint → large") {
    val h = Dedup.SimHasher()
    val a = (1 to 100).map(i => s"w$i").mkString(" ")
    val b = (1 to 100).map(i => if (i == 50) "CHANGED" else s"w$i").mkString(" ")
    val c = (1 to 100).map(i => s"q$i").mkString(" ")
    assert(h.hamming(h.simhash(a), h.simhash(a)) === 0)
    assert(h.hamming(h.simhash(a), h.simhash(b)) < 12)
    assert(h.hamming(h.simhash(a), h.simhash(c)) > 20)
  }

  test("PolySimHasher: Long-only Mersenne arithmetic equals the BigInt reference") {
    // The q154 oracle replays this hash in HUGEINT — any defect in the
    // multiplyHigh fold would surface as a cross-engine hash mismatch,
    // so pin the Long implementation against exact BigInt arithmetic
    // on adversarial inputs (long strings drive h through the full
    // 61-bit range; high char codes stress the + c fold).
    val P = BigInt("2305843009213693951")
    val B = BigInt(1000003)
    def ref(f: String): Long =
      f.foldLeft(BigInt(0))((h, c) => (h * B + c.toInt) % P).toLong
    val h = Dedup.PolySimHasher()
    val m = classOf[Dedup.PolySimHasher].getDeclaredMethod("featureHash", classOf[String])
    m.setAccessible(true)
    val rnd = new scala.util.Random(154)
    val cases = Seq("", "a", "ab cd", "￿￾", "z" * 500) ++
      (1 to 200).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(80)).mkString)
    cases.foreach { f =>
      assert(m.invoke(h, f).asInstanceOf[Long] === ref(f), s"feature '$f'")
    }
    // and the full signature is bounded to the declared 61 bits
    val sig = h.simhash((1 to 300).map(i => s"tok$i").mkString(" "))
    assert((sig >>> 61) === 0L, "signature must never set bits 61-63")
  }

  test("simhashPairs with PolySimHasher: same pairing behavior as murmur family") {
    import spark.implicits._
    val a = (1 to 200).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, (1 to 200).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(spark, df, "doc_id", "text",
        hasher = Dedup.PolySimHasher(), maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("simhashPairs: identical + trivially-perturbed docs pair up") {
    import spark.implicits._
    val a = (1 to 200).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, (1 to 200).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(spark, df, "doc_id", "text", maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("minhashPairsExact: equals brute-force all-pairs Jaccard join") {
    import spark.implicits._
    val r = new scala.util.Random(3)
    // 40 docs in 8 families: high within-family token overlap
    val rows = (0 until 40).map { i =>
      val fam = i % 8
      val toks = (1 to 50).map(j => s"f${fam}w$j") ++ (1 to r.nextInt(8)).map(j => s"doc${i}x$j")
      (i.toLong, r.shuffle(toks).mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.minhashPairsExact(spark, df, "doc_id", "text", threshold = 0.7)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap

    // driver-side brute force over the same distinct-token sets
    val sets = rows.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty).toSet }
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j > 0.7
      // HALF_UP to match Spark SQL round()
    } yield (a, b) -> BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap

    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("bucket cap: degenerate identical corpus stays linear via star-linking") {
    import spark.implicits._
    val text = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val df = (1L to 1000L).map(i => (i, text)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsExact(spark, df, "doc_id", "text",
        threshold = 0.7, bucketCap = 100)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    // all-pairs would be 499,500; star-linking caps it at n-1 edges,
    // every member still reachable through the representative (min id)
    assert(pairs.length === 999)
    assert(pairs.forall(_._1 === 1L))
    assert(pairs.forall(_._3 === 1.0))

    // the diagnostic surfaces what was capped
    val keys = df.select($"doc_id".as("id"), org.apache.spark.sql.functions.lit(0).as("k"))
    assert(Dedup.megaBuckets(keys, Seq("k"), 100).collect().head.getLong(1) === 1000L)
  }

  test("strict mode fails loudly instead of star-linking over-cap buckets") {
    import spark.implicits._
    val text = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val mega = (1L to 300L).map(i => (i, text)).toDF("doc_id", "text")
    val eMh = intercept[IllegalStateException] {
      Dedup.minhashPairsExact(spark, mega, "doc_id", "text",
        threshold = 0.7, bucketCap = 100, strict = true).collect()
    }
    assert(eMh.getMessage.contains("strict"))
    val eSh = intercept[IllegalStateException] {
      Dedup.simhashPairs(spark, mega, "doc_id", "text",
        bucketCap = 100, strict = true).collect()
    }
    assert(eSh.getMessage.contains("strict"))
    // under the cap, strict is a no-op: identical output
    val loose = Dedup.minhashPairsExact(spark, docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strictOut = Dedup.minhashPairsExact(spark, docs, "doc_id", "text",
        threshold = 0.5, strict = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strictOut === loose)
  }

  test("connectedComponents: min label per cluster, singletons map to self") {
    import spark.implicits._
    val ids = (1L to 8L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(ids, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
    // chain: propagation needs diameter rounds, still converges
    val chain = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val cc2 = Dedup.connectedComponents((1L to 6L).toDF("doc_id"), "doc_id", chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc2.values.toSet === Set(1L))
  }

  /** The lang-blocked, n_chars-banded Jaccard join the near-dup pair
    * artifact builds (block and band inside the fused prefix join). */
  private def blockedPairs(df: org.apache.spark.sql.DataFrame, threshold: Double,
      maxBroadcastVocab: Long = Long.MaxValue) =
    PrefixJoin.jaccardPairsPrefix(df.sparkSession, df, "doc_id", "text", threshold,
      maxBroadcastVocab = maxBroadcastVocab,
      blockCol = Some("lang"), sizeBand = Some(("n_chars", 30L)))

  test("jaccardPairs: exact values, blocking respected") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d", "en", 7L),
      (2L, "a b c e", "en", 7L),     // jaccard 3/5
      (3L, "a b c d", "fr", 7L),     // same text, different block
      (4L, "a b c d", "en", 500L)    // same text, size band excludes
    ).toDF("doc_id", "text", "lang", "n_chars")
    val pairs = blockedPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0.6)))
  }

  test("jaccardPairs ≡ brute force over a randomized blocked corpus " +
    "(the r14 prefix-filtered candidate scheme must change NOTHING)") {
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    val vocab = ('a' to 'z').map(_.toString)
    val random = (1L to 120L).map { i =>
      val nt = 2 + rnd.nextInt(10)
      val toks = Seq.fill(nt)(vocab(rnd.nextInt(vocab.size))).distinct
      val lang = if (rnd.nextBoolean()) "en" else "fr"
      (i.toString, toks.mkString(" "), Option(lang), Option((20 + rnd.nextInt(80)).toLong))
    }
    // planted copies of doc "1": only the id type and NULL semantics
    // decide whether they pair (J = 1 with "1" on the text alone)
    val (_, text1, lang1, size1) = random.head
    val docs = random ++ Seq(
      ("doc-x", text1, lang1, size1),   // non-numeric id: must pair with "1"
      ("nolang", text1, None, size1),   // NULL block: never pairs,
      ("nolang2", text1, None, size1),  //   not even with another NULL
      ("nosize", text1, lang1, None))   // NULL size: never pairs
    val got = blockedPairs(docs.toDF("doc_id", "text", "lang", "n_chars"), threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    def r4(d: Double) = math.floor(d * 10000.0 + 0.5) / 10000.0
    val sets = docs.map { case (id, t, l, sz) => (id, t.split(" ").toSet, l, sz) }
    val expect = (for {
      a <- sets; b <- sets
      if a._1 < b._1 && a._3.isDefined && a._3 == b._3 &&
        a._4.zip(b._4).exists { case (x, y) => math.abs(x - y) <= 30 }
      inter = (a._2 & b._2).size.toDouble
      j = inter / (a._2.size + b._2.size - inter)
      if j > 0.5
    } yield (a._1, b._1, r4(j))).toSet
    assert(expect.nonEmpty, "degenerate fixture: no qualifying pairs")
    assert(expect.contains(("1", "doc-x", 1.0)))
    assert(got === expect)
  }

  test("blocked Jaccard pairs are identical when the vocab rank shuffles") {
    // maxBroadcastVocab = 0 drops the rank side's broadcast hint; with
    // auto-broadcast off the token→rank translation is a shuffle join
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val rnd = new scala.util.Random(15)
    val vocab = ('a' to 'z').map(_.toString)
    val docs = (1L to 60L).map { i =>
      val toks = Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).distinct
      (i, toks.mkString(" "), "en", (20 + rnd.nextInt(40)).toLong)
    }.toDF("doc_id", "text", "lang", "n_chars")
    def run(maxVocab: Long) = {
      val df = blockedPairs(docs, threshold = 0.5, maxBroadcastVocab = maxVocab)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val plan = df.queryExecution.executedPlan.toString
      s2.catalog.clearCache()
      (rows, plan)
    }
    val (broadcasted, _) = run(Long.MaxValue)
    val (shuffled, shufflePlan) = run(0L)
    assert(!shufflePlan.contains("BroadcastHashJoin"), shufflePlan.take(800))
    assert(broadcasted.nonEmpty)
    assert(shuffled === broadcasted)
  }
}
