package graft.queries

import graft.{QueryDef, Tables}
import graft.pipeline._
import org.apache.spark.sql.functions._

/** The reference's document pipeline as driver-checkable queries:
  * E1 papers derivation, chunking (U5/U6 → Generate), batched
  * embedding inference (U4 → mapPartitions), and vector search
  * (U10/U11 → score + TakeOrderedAndProject).
  */
object PipelineQueries {

  import QueryFixtures.{queryVec, queryVecF, queryVecFSql, queryVecSql}

  /** DuckDB replay of [[graft.pipeline.PolyHashingEmbedder]] over a
    * `txt` column of `src` (q157/q159): tokens → uni+bigram features
    * → one PolyHash each → 64 signed bucket counts as DOUBLE[64].
    * Hashes are computed ONCE per row; the 64-way vote is list_filter
    * over the small hash list. Replays dim = 64 ONLY (bucket `% 64`,
    * sign shift `>> 6` = numberOfTrailingZeros(64) — the embedder's
    * signShift); a different dim needs both literals re-derived.
    */
  private[queries] def polyEmbedChainSql(src: String, cols: String): String = {
    import graft.functions.PolyHash.{B, P}
    val toVec =
      s"""list_transform(range(0, 64), j ->
         |  CAST(len(list_filter(hsig, h -> h.b = j AND h.pos)) -
         |       len(list_filter(hsig, h -> h.b = j AND NOT h.pos))
         |       AS DOUBLE))""".stripMargin
    s"""SELECT $cols, $toVec AS v FROM (
       |  SELECT $cols, list_transform(hs, h -> struct_pack(
       |      b := h % 64,
       |      pos := bit_count(h >> 6) % 2 = 0)) AS hsig
       |  FROM (
       |    SELECT $cols,
       |      list_transform(
       |        ts || list_transform(range(1, len(ts)),
       |                             i -> ts[i] || ' ' || ts[i+1]),
       |        f -> CAST(list_reduce(
       |          list_transform(string_split(f, ''),
       |                         c -> CAST(unicode(c) AS HUGEINT)),
       |          (h, c) -> (h * $B + c) % $P) AS BIGINT)) AS hs
       |    FROM (
       |      SELECT $cols,
       |        list_filter(string_split_regex(txt, '\\s+'),
       |                    x -> length(x) > 0) AS ts
       |      FROM $src)))""".stripMargin
  }

  /** Deterministic on-disk location for a materialized ANN index:
    * keyed by source dir + index params + a CONTENT stamp of the
    * source table (file size + mtime), so a regenerated corpus at
    * the same path rebuilds instead of silently serving a stale
    * artifact, while repeat queries over unchanged data reuse it
    * (the 100 TB shape: index build is amortized, not per-query
    * work; there, the stamp is the table's snapshot/commit id).
    */
  private def indexPath(kind: String, sfDir: String, params: String): String =
    graft.ArtifactCache.path(kind,
      java.nio.file.Paths.get(sfDir, "embeddings.parquet"), params)

  /** The three persisted ANN-index artifacts, as ensure-style helpers
    * shared by their consumer queries (q30/q156/q44) and the
    * [[graft.Artifacts]] registry — so a full bench run can build
    * each one in its OWN attributed `artifact:<kind>` row instead of
    * billing the build to whichever consumer runs first. */
  private[graft] def lshIndex(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, graft.operators.AnnSearch.HyperplaneLsh) = {
    import graft.operators.AnnSearch
    val lsh = AnnSearch.HyperplaneLsh(dim = 64, nBits = 8, seed = 1)
    (AnnSearch.persistedIndex(s, Tables.embeddings(s, d),
      "vec_id", "embedding", lsh, indexPath("lsh", d, "dim64-bits8-seed1")), lsh)
  }

  /** See [[lshIndex]]. */
  private[graft] def lshRadIndex(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, graft.operators.AnnSearch.RademacherLsh) = {
    import graft.operators.AnnSearch
    val lsh = AnnSearch.RademacherLsh(dim = 64, nBits = 8)
    (AnnSearch.persistedIndex(s, Tables.embeddings(s, d),
      "vec_id", "embedding", lsh, indexPath("lsh-rad", d, "dim64-bits8")), lsh)
  }

  /** See [[lshIndex]]. */
  private[graft] def ivfIndex(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, graft.operators.IvfSearch.IvfModel) =
    graft.operators.IvfSearch.persistedIndex(s, Tables.embeddings(s, d),
      "vec_id", "embedding", indexPath("ivf", d, "k16-it10-seed42-dtrain"), k = 16)

  def defs: Seq[QueryDef] = Seq(
    // ----- q15: E1 papers pipeline (ordered limit BEFORE filters — the
    // reference's semantic trap, made deterministic; LPT output order)
    QueryDef(
      "q15_papers_pipeline",
      (s, d) => OcrPipeline.buildPapers(Tables.documents(s, d), limitN = 100),
      Some("""SELECT doc_id, source,
             |  'pdfs/' || substring(source, 1, 10) || '_' ||
             |    replace(substring(text, 1, 20), ' ', '_') || '.pdf' AS filename,
             |  n_chars AS filesize
             |FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 100)
             |WHERE source IS NOT NULL AND substring(source, 1, 3) = 'src'
             |ORDER BY filesize DESC, doc_id""".stripMargin)),

    // ----- q16: chunking as a generator (U5/U6): char windows +
    // min-length filter + "i_j" composite ids
    QueryDef(
      "q16_chunks",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        Inference.chunkDocuments(s, Tables.documents(s, d))
          .toDF()
          .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
            col("chunk_id"), col("chunk"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""SELECT doc_id, chunk_idx,
             |  CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_idx AS VARCHAR) AS chunk_id,
             |  chunk
             |FROM (
             |  SELECT doc_id,
             |    unnest(generate_series(0, CAST(ceil(length(text)/200.0) AS BIGINT) - 1)) AS chunk_idx,
             |    unnest(regexp_extract_all(text, '(?s).{1,200}')) AS chunk
             |  FROM documents)
             |WHERE length(chunk) > 50
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ----- q17: chunk statistics per language (generate → agg → join)
    QueryDef(
      "q17_chunk_stats",
      (s, d) => {
        import s.implicits._
        val chunks = Inference.chunkDocuments(s, Tables.documents(s, d)).toDF()
        val docs = Tables.documents(s, d).select($"doc_id", $"lang")
        chunks.join(broadcast(docs), Seq("doc_id"))
          .groupBy($"lang")
          .agg(
            countDistinct($"doc_id").as("n_docs"),
            count(lit(1)).as("n_chunks"),
            sum(length($"chunk")).as("chunk_chars"),
            max(length($"chunk")).as("max_chunk_len"))
          .orderBy($"lang")
      },
      Some("""SELECT lang,
             |  COUNT(DISTINCT c.doc_id) AS n_docs,
             |  COUNT(*) AS n_chunks,
             |  CAST(SUM(length(chunk)) AS BIGINT) AS chunk_chars,
             |  MAX(length(chunk)) AS max_chunk_len
             |FROM (
             |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).{1,200}')) AS chunk
             |  FROM documents) c
             |JOIN documents d ON c.doc_id = d.doc_id
             |WHERE length(chunk) > 50
             |GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // ----- q18: batched embedding inference (U4: mapPartitions +
    // grouped(150)). Not SQL-expressible (seeded hashing embedder) →
    // rows-only check; embedding determinism is spec-tested.
    QueryDef(
      "q18_embed_chunks",
      (s, d) => {
        import s.implicits._
        val chunks = Inference.chunkDocuments(s, Tables.documents(s, d))
        Inference.embedChunks(chunks, HashingEmbedder(dim = 64), batchSize = 150)
          .toDF()
          // The raw array<float> column is spec-covered (EmbedderSpec);
          // the driver's comparator can't sort arrays, so the declared
          // output carries scalar digests of the vector instead.
          .select($"doc_id", $"chunk_idx", $"chunk_id",
            round(element_at($"embedding", 1).cast("double"), 6).as("emb_head"),
            round(aggregate($"embedding", lit(0.0),
              (acc, x) => acc + x.cast("double")), 6).as("emb_sum"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      None),

    // ----- q203: the ORACLE-CHECKED twin of q18 — the same batched
    // embedding-inference pipeline (chunk → mapPartitions grouped(150)
    // → embed), but through PolyHashingEmbedder and dumped COORDINATE
    // BY COORDINATE: every one of the 64 signed feature counts of
    // every chunk must equal DuckDB re-deriving it from raw text
    // (polyEmbedChainSql, the q157 chain without the search on top).
    // q157 checked the pipeline's top-5 READ-OUT; this row checks the
    // full inference TABLE, so the U4 batching seam (batch-boundary
    // invariance, chunk ids, per-coordinate algebra) is hash-gated,
    // not just spec-covered. q18 keeps the production murmur embedder
    // as the compatibility surface.
    QueryDef(
      "q203_embed_chunks_replay",
      (s, d) => {
        import s.implicits._
        val chunks = Inference.chunkDocuments(s, Tables.documents(s, d))
        Inference.embedChunks(chunks,
            graft.pipeline.PolyHashingEmbedder(dim = 64), batchSize = 150)
          .toDF()
          .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
            posexplode($"embedding"))
          .select($"doc_id", $"chunk_idx", $"pos".cast("long").as("pos"),
            $"col".cast("long").as("feat_count"))
          .orderBy($"doc_id", $"chunk_idx", $"pos")
      },
      Some {
        s"""WITH chunks AS (
           |  SELECT doc_id, chunk_idx, chunk AS txt
           |  FROM (
           |    SELECT doc_id,
           |      unnest(generate_series(0,
           |        CAST(ceil(length(text)/200.0) AS BIGINT) - 1)) AS chunk_idx,
           |      unnest(regexp_extract_all(text, '(?s).{1,200}')) AS chunk
           |    FROM documents)
           |  WHERE length(chunk) > 50),
           |vecs AS (${polyEmbedChainSql("chunks", "doc_id, chunk_idx")})
           |SELECT * FROM (
           |  SELECT doc_id, chunk_idx,
           |    unnest(range(0, 64)) AS pos,
           |    CAST(unnest(v) AS BIGINT) AS feat_count
           |  FROM vecs)
           |ORDER BY doc_id, chunk_idx, pos""".stripMargin
      }),

    // ----- q19: vector-search top-k against a constant query vector
    // (U11/O3 → TakeOrderedAndProject over a scored scan)
    QueryDef(
      "q19_similarity_topk",
      (s, d) => {
        import s.implicits._
        VectorSearch.topK(Tables.embeddings(s, d), "embedding", "vec_id", queryVec, 5)
          .select($"vec_id", $"label", round($"sim", 6).as("sim"))
      },
      Some(s"""SELECT vec_id, label,
              |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
              |                               CAST($queryVecSql AS DOUBLE[])), 6) AS sim
              |FROM embeddings
              |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
              |                                CAST($queryVecSql AS DOUBLE[])) DESC, vec_id
              |LIMIT 5""".stripMargin)),

    // ----- q30: ANN search — LSH-bucketed probe + exact rerank (the
    // 100 TB path; seeded hyperplanes → deterministic but not SQL-
    // expressible → rows-only; recall vs brute force is spec-tested).
    // The index is a PERSISTED artifact (partitionBy("bucket"), built
    // once per corpus+params); the probe filter prunes partitions at
    // the source — pruning is asserted in AnnSearchSpec.
    QueryDef(
      "q30_ann_search",
      (s, d) => {
        import s.implicits._
        import graft.operators.AnnSearch
        val (index, lsh) = lshIndex(s, d)
        AnnSearch.search(index, "vec_id", "embedding",
            queryVecF, k = 5, lsh, nProbe = 16)
          .select($"vec_id", round($"sim", 6).as("sim"))
      },
      None),

    // ----- q156: the ORACLE-CHECKED twin of q30 — the identical
    // probe-filtered exact-rerank search, but over RademacherLsh (±1
    // hyperplanes whose signs DuckDB derives from popcount parity of
    // a Fibonacci hash): ±1·float products are exact doubles and both
    // engines sum left to right, so every projection and bucket bit
    // is BIT-IDENTICAL cross-engine — the oracle rebuilds the whole
    // index, probes the same 9 buckets (nProbe=16 ≥ nBits+1 makes
    // the probe SET order-free), and reranks with the q19-precedent
    // cosine. The replay discipline (q140/q154/q103) applied to ANN
    // search; q30 keeps Gaussian planes as the production surface.
    QueryDef(
      "q156_ann_search_replay",
      (s, d) => {
        import s.implicits._
        import graft.operators.AnnSearch
        val (index, lsh) = lshRadIndex(s, d)
        AnnSearch.search(index, "vec_id", "embedding",
            queryVecF, k = 5, lsh, nProbe = 16)
          .select($"vec_id", round($"sim", 6).as("sim"))
      },
      Some {
        val mix = "11400714819323198485"   // unsigned RademacherLsh.Mix
        s"""WITH sgns AS (
           |  SELECT list_transform(range(0, 512), k ->
           |    CASE WHEN bit_count(CAST((CAST(k AS HUGEINT) * $mix) %
           |                        18446744073709551616 AS HUGEINT)) % 2 = 0
           |         THEN 1.0 ELSE -1.0 END) AS sg),
           |q AS (SELECT CAST($queryVecFSql AS DOUBLE[]) AS qv),
           |sig AS (
           |  SELECT e.vec_id, e.embedding,
           |    CAST(list_sum(list_transform(range(0, 8), b ->
           |      CASE WHEN list_reduce(
           |             list_transform(range(1, 65), i ->
           |               s.sg[b*64 + i] * CAST(e.embedding[i] AS DOUBLE)),
           |             (a, x) -> a + x) >= 0
           |           THEN (1 << b) ELSE 0 END)) AS INT) AS bucket
           |  FROM embeddings e, sgns s),
           |qsig AS (
           |  SELECT CAST(list_sum(list_transform(range(0, 8), b ->
           |      CASE WHEN list_reduce(
           |             list_transform(range(1, 65), i -> s.sg[b*64 + i] * q.qv[i]),
           |             (a, x) -> a + x) >= 0
           |           THEN (1 << b) ELSE 0 END)) AS INT) AS qb
           |  FROM sgns s, q),
           |probes AS (
           |  SELECT [qb] || list_transform(range(0, 8),
           |                                b -> xor(qb, CAST(1 << b AS INT))) AS ps
           |  FROM qsig)
           |SELECT s.vec_id,
           |  round(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), q.qv), 6) AS sim
           |FROM sig s, probes p, q
           |WHERE list_contains(p.ps, s.bucket)
           |ORDER BY list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), q.qv)
           |  DESC, s.vec_id
           |LIMIT 5""".stripMargin
      }),

    // ----- q44: IVF ANN search — trained coarse quantizer, nearest-
    // cell probing + exact rerank (rows-only: k-means model; recall
    // and determinism are spec-tested). Quantizer + cell-partitioned
    // table persist as one artifact; cell probes prune partitions at
    // the source — asserted in IvfSearchSpec.
    QueryDef(
      "q44_ivf_search",
      (s, d) => {
        import s.implicits._
        import graft.operators.IvfSearch
        val (index, model) = ivfIndex(s, d)
        IvfSearch.search(index, "vec_id", "embedding",
            queryVecF, k = 5, model, nProbe = 6)
          .select($"vec_id", round($"sim", 6).as("sim"))
      },
      None),

    // ----- q126: product-quantization ADC search — the COMPRESSED
    // leg of the ANN family (rows-only: k-means codebooks; exactness-
    // when-lossless, recall, and determinism are spec-tested in
    // PqSearchSpec). Each 64-float vector stores as 8 code ids; the
    // query scans only the code table with per-block ADC lookups.
    QueryDef(
      "q126_pq_search",
      (s, d) => {
        import s.implicits._
        import graft.operators.PqSearch
        val embs = Tables.embeddings(s, d)
        val model = PqSearch.train(s, embs, "embedding", m = 8, k = 16,
          iterations = 5)
        val enc = PqSearch.encode(s, embs, "vec_id", "embedding", model)
        PqSearch.search(enc, "vec_id", queryVecF,
            k = 5, model)
          .select($"vec_id", round($"dist2", 6).as("dist2"))
      },
      None),

    // ----- q31: native codegen cosine_sim Expression — same plan and
    // oracle as q19, but through the custom Catalyst expression
    // (registered per session), proving it end-to-end against DuckDB
    QueryDef(
      "q31_cosine_native",
      (s, d) => {
        import s.implicits._
        import graft.functions.GraftFunctions
        Tables.embeddings(s, d)
          .withColumn("sim", GraftFunctions.cosine_sim(
            $"embedding", VectorSearch.vecLit(queryVec).cast("array<double>")))
          .orderBy($"sim".desc, $"vec_id")
          .limit(5)
          .select($"vec_id", $"label", round($"sim", 6).as("sim"))
      },
      Some(s"""SELECT vec_id, label,
              |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
              |                               CAST($queryVecSql AS DOUBLE[])), 6) AS sim
              |FROM embeddings
              |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
              |                                CAST($queryVecSql AS DOUBLE[])) DESC, vec_id
              |LIMIT 5""".stripMargin)),

    // ----- q20: full text search — embed query text with the same
    // embedder that built the index, then score+top-k (the
    // similarity_search(query, k=5) of ocr-tesseract-unstructured.py:167-171).
    // Embedder isn't SQL-expressible → rows-only.
    QueryDef(
      "q20_search_text",
      (s, d) => {
        import s.implicits._
        val embedder = HashingEmbedder(dim = 64)
        val chunks = Inference.chunkDocuments(s, Tables.documents(s, d))
        val index = Inference.embedChunks(chunks, embedder).toDF()
        VectorSearch.searchText(index, "embedding", "chunk_id",
            "spark join performance", embedder, k = 5)
          .select($"chunk_id", $"doc_id", round($"sim", 6).as("sim"))
      },
      None),

    // ----- q157: the ORACLE-CHECKED twin of q20 — the ENTIRE
    // text-search pipeline (char-window chunking → feature-hashing
    // embedding → query-text top-k) replayed in SQL. PolyHashingEmbedder
    // keeps coordinates as raw signed feature counts (exact in floats),
    // so every cosine sums exact integer products in doubles and both
    // engines round only at the final divide — bit-identical sims with
    // no tolerance anywhere; the PolyHash bucket/sign derivation is the
    // q154 replay plus a popcount-parity sign. This is the reference's
    // user-visible similarity_search surface, hash-checked end to end.
    QueryDef(
      "q157_search_text_replay",
      (s, d) => {
        import s.implicits._
        val embedder = graft.pipeline.PolyHashingEmbedder(dim = 64)
        val chunks = Inference.chunkDocuments(s, Tables.documents(s, d))
        val index = Inference.embedChunks(chunks, embedder).toDF()
        VectorSearch.searchText(index, "embedding", "chunk_id",
            "spark join performance", embedder, k = 5)
          .select($"chunk_id", $"doc_id", round($"sim", 6).as("sim"))
      },
      Some {
        s"""WITH chunks AS (
           |  SELECT doc_id,
           |    CAST(doc_id AS VARCHAR) || '_' || CAST(chunk_idx AS VARCHAR)
           |      AS chunk_id,
           |    chunk AS txt
           |  FROM (
           |    SELECT doc_id,
           |      unnest(generate_series(0,
           |        CAST(ceil(length(text)/200.0) AS BIGINT) - 1)) AS chunk_idx,
           |      unnest(regexp_extract_all(text, '(?s).{1,200}')) AS chunk
           |    FROM documents)
           |  WHERE length(chunk) > 50),
           |qt AS (SELECT 'spark join performance' AS txt),
           |q AS (${polyEmbedChainSql("qt", "txt")}),
           |vecs AS (${polyEmbedChainSql("chunks", "chunk_id, doc_id")})
           |SELECT chunk_id, doc_id,
           |  round(list_cosine_similarity(vecs.v, q.v), 6) AS sim
           |FROM vecs, q
           |ORDER BY list_cosine_similarity(vecs.v, q.v) DESC, chunk_id
           |LIMIT 5""".stripMargin
      }),

    // ----- q75: hybrid retrieval — BM25 keyword leg + cosine vector
    // leg fused by reciprocal-rank fusion (operators.HybridSearch).
    // Each leg is its own bounded top-20 (q52's and q31's plans);
    // fusion is a union + groupBy over ≤40 rows regardless of corpus
    // size. Vector ranks use the r4-rounded similarity so rank
    // boundaries are cross-engine exact; ids share the vec_id<500 =
    // doc_id domain.
    QueryDef(
      "q75_hybrid_search",
      (s, d) => {
        import s.implicits._
        import graft.functions.GraftFunctions
        import graft.operators.{HybridSearch, TextSearch}
        def r4(c: org.apache.spark.sql.Column) = graft.functions.TextFunctions.r4(c)
        val kw = TextSearch.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          query = Seq("vector", "join", "stream"), k = 20)
        val vec = Tables.embeddings(s, d)
          .filter($"vec_id" < 500)
          .withColumn("sim", r4(GraftFunctions.cosine_sim(
            $"embedding", VectorSearch.vecLit(queryVec).cast("array<double>"))))
          .orderBy($"sim".desc, $"vec_id").limit(20)
        HybridSearch.rrfFuse(Seq(
            HybridSearch.ranked(kw, "id", "score"),
            HybridSearch.ranked(vec, "vec_id", "sim")), k = 10)
          .select($"id", $"rrf_score", $"n_legs")
          .orderBy($"rrf_score".desc, $"id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |    list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS toks
              |  FROM documents),
              |tl AS (SELECT doc_id, toks, len(toks) AS len FROM t),
              |stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM tl),
              |tf AS (
              |  SELECT doc_id, len, term, COUNT(*) AS tf
              |  FROM (SELECT doc_id, len,
              |          unnest(list_filter(toks, x -> x IN ('vector', 'join', 'stream'))) AS term
              |        FROM tl)
              |  GROUP BY doc_id, len, term),
              |dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
              |kw AS (
              |  SELECT doc_id,
              |    round(SUM(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
              |              (tf + 1.2 * (0.25 + 0.75 * len / (total_len * 1.0 / n_docs)))), 4) AS score
              |  FROM tf JOIN dfq USING (term) CROSS JOIN stats
              |  GROUP BY doc_id
              |  ORDER BY score DESC, doc_id
              |  LIMIT 20),
              |kwr AS (
              |  SELECT doc_id AS id,
              |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
              |  FROM kw),
              |vec AS (
              |  SELECT vec_id,
              |    floor(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
              |                                 CAST($queryVecSql AS DOUBLE[])) * 10000 + 0.5) / 10000 AS sim
              |  FROM embeddings
              |  WHERE vec_id < 500
              |  ORDER BY sim DESC, vec_id
              |  LIMIT 20),
              |vecr AS (
              |  SELECT vec_id AS id,
              |    ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rank
              |  FROM vec),
              |parts AS (
              |  SELECT id, 1.0 / (60 + rank) AS part FROM kwr
              |  UNION ALL
              |  SELECT id, 1.0 / (60 + rank) AS part FROM vecr)
              |SELECT id,
              |  floor(SUM(part) * 10000 + 0.5) / 10000 AS rrf_score,
              |  COUNT(*) AS n_legs
              |FROM parts
              |GROUP BY id
              |ORDER BY rrf_score DESC, id
              |LIMIT 10""".stripMargin)),

    // ----- q76: OVERLAPPING sliding-window chunking (width 200,
    // stride 150 → 50-char overlap), the retrieval-chunking layout
    // next to q16's reference-faithful non-overlapping windows. The
    // n_cover digest (chars covered counting overlap once) proves the
    // windows tile the document with no gaps.
    QueryDef(
      "q76_sliding_chunks",
      (s, d) => {
        import s.implicits._
        val chunks = graft.pipeline.Chunker.slidingWindowChunks($"text", 200, 150)
        graft.Par.spread(Tables.documents(s, d))
          .select(
            $"doc_id",
            size(chunks).as("n_chunks"),
            aggregate(transform(chunks, c => length(c)), lit(0),
              (a, x) => a + x).as("total_chars"),
            length(element_at(chunks, -1)).as("last_len"))
          .withColumn("n_cover",
            // overlap counted once: total − (n−1)·(width−stride)
            $"total_chars" - ($"n_chunks" - 1) * 50)
          .orderBy($"doc_id")
      },
      Some("""WITH c AS (
             |  SELECT doc_id, length(text) AS len,
             |    CASE WHEN text IS NULL OR length(text) = 0 THEN []
             |      ELSE list_transform(
             |        generate_series(0, greatest(CAST(ceil((length(text) - 200) / 150.0) AS INT), 0)),
             |        i -> substring(text, i * 150 + 1, 200)) END AS chunks
             |  FROM documents)
             |SELECT doc_id,
             |  len(chunks) AS n_chunks,
             |  CAST(COALESCE(list_sum(list_transform(chunks, x -> length(x))), 0) AS INT) AS total_chars,
             |  length(chunks[-1]) AS last_len,
             |  CAST(COALESCE(list_sum(list_transform(chunks, x -> length(x))), 0)
             |    - (len(chunks) - 1) * 50 AS INT) AS n_cover
             |FROM c
             |ORDER BY doc_id""".stripMargin)),

    // ----- q146: semantic chunking (pipeline/SemanticChunker) —
    // documents split at embedding-drift boundaries instead of byte
    // offsets; output is the chunks-per-document histogram plus
    // segment mass. Embedder-dependent (seeded HashingEmbedder) ⇒
    // rows-only like q18/q20; determinism, boundary placement, and
    // token-stream reassembly are pinned by SemanticChunkerSpec.
    QueryDef(
      "q146_semantic_chunking",
      (s, d) => {
        import s.implicits._
        graft.pipeline.SemanticChunker.chunk(
            s, Tables.documents(s, d), "doc_id", "text",
            width = 40, threshold = 0.35)
          .groupBy($"doc_id").agg(
            max($"chunk_id").as("max_chunk"),
            sum($"n_segments").as("n_segments"))
          .groupBy(($"max_chunk" + 1).as("n_chunks"))
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_segments").as("total_segments"))
          .orderBy($"n_chunks")
      },
      None),

    // ----- q159: the ORACLE-CHECKED twin of q146 — semantic chunking
    // with the replayable embedder. The boundary test cos(prev, cur)
    // < 0.35 is DETERMINISTIC cross-engine because PolyHashingEmbedder
    // coordinates are exact integer counts: the dot and both norms sum
    // exactly in doubles (any order), so both engines compare the
    // identical IEEE value against the threshold — topic boundaries,
    // chunk ids, and the histogram all replay. The oracle mirrors the
    // cosine as dot/(sqrt(na)·sqrt(nb)) op for op.
    QueryDef(
      "q159_semantic_chunking_replay",
      (s, d) => {
        import s.implicits._
        graft.pipeline.SemanticChunker.chunk(
            s, Tables.documents(s, d), "doc_id", "text",
            embedder = graft.pipeline.PolyHashingEmbedder(dim = 64),
            width = 40, threshold = 0.35)
          .groupBy($"doc_id").agg(
            max($"chunk_id").as("max_chunk"),
            sum($"n_segments").as("n_segments"))
          .groupBy(($"max_chunk" + 1).as("n_chunks"))
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_segments").as("total_segments"))
          .orderBy($"n_chunks")
      },
      Some(
        s"""WITH toksrc AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(trim(COALESCE(text, '')), '\\s+'),
           |                x -> length(x) > 0) AS ts
           |  FROM documents),
           |segs AS (
           |  SELECT doc_id, seg_id,
           |    array_to_string(ts[(seg_id*40 + 1):(seg_id*40 + 40)], ' ') AS txt
           |  FROM (
           |    SELECT doc_id, ts,
           |      unnest(range(0, greatest(CAST(ceil(len(ts)/40.0) AS BIGINT), 1)))
           |        AS seg_id
           |    FROM toksrc)),
           |emb AS (${polyEmbedChainSql("segs", "doc_id, seg_id")}),
           |lagged AS (
           |  SELECT doc_id, seg_id, v,
           |    lag(v) OVER (PARTITION BY doc_id ORDER BY seg_id) AS pv
           |  FROM emb),
           |bnd AS (
           |  SELECT doc_id, seg_id,
           |    CASE WHEN pv IS NULL OR
           |              list_dot_product(v, pv) /
           |                (sqrt(list_dot_product(v, v)) *
           |                 sqrt(list_dot_product(pv, pv))) < 0.35
           |         THEN 1 ELSE 0 END AS b
           |  FROM lagged),
           |chunks AS (
           |  SELECT doc_id,
           |    SUM(b) OVER (PARTITION BY doc_id ORDER BY seg_id
           |                 ROWS UNBOUNDED PRECEDING) - 1 AS chunk_id
           |  FROM bnd),
           |perdoc AS (
           |  SELECT doc_id, MAX(chunk_id) AS max_chunk,
           |    COUNT(*) AS n_segments
           |  FROM chunks GROUP BY doc_id)
           |SELECT CAST(max_chunk + 1 AS BIGINT) AS n_chunks,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(n_segments) AS BIGINT) AS total_segments
           |FROM perdoc GROUP BY 1 ORDER BY n_chunks""".stripMargin)),

    // ----- q344: coverage audit — "no silent caps", machine-checked.
    // One oracle-checked row per bounded stage: the q324/q339 400-doc
    // hash pools (population vs covered vs capped) and the extraction
    // paths of a REAL AutoPartitioner run over generated binary
    // containers (PdfGen.demo's doc_id-mod-8 cycle on its own hash-
    // capped pool). The extraction rows are a live tripwire, not a
    // restatement: the oracle replays the deterministic routing
    // (mods 0-2 and 4-5 are decodable PDFs — incl. the ObjStm and
    // LZW/A85/AHx filter-chain containers → extract:pdf_text; mod 3
    // plain bytes → extract:non_pdf; mod 6 image-only →
    // extract:pdf_image; slot 7 alternates by mod 16: empty-password
    // RC4 → extract:pdf_decrypted (the REAL decrypt path must
    // recover the text layer), password-locked → extract:
    // pdf_encrypted), so any regression in the pure-JVM text layer,
    // the RC4/standard-handler crypto, the encryption detector, or
    // the raster-image router shifts Spark-side counts across
    // buckets and the row set stops matching.
    QueryDef(
      "q344_coverage_audit",
      (s, d) => {
        import s.implicits._
        import graft.operators.Sampling
        val docs = Tables.documents(s, d).select($"doc_id", $"text")
        val pop = docs.agg(count(lit(1)).cast("long").as("n"))
        val poolRows = pop.select(
          explode(array(lit("q324_rouge_pool"), lit("q339_tfidf_pool"))).as("stage"),
          $"n".as("population"),
          least(lit(400L), $"n").cast("long").as("covered"),
          ($"n" > 400L).as("capped"))
        val ext = docs
          .withColumn("hf", Sampling.hashFraction($"doc_id", 344L))
          .orderBy($"hf", $"doc_id").limit(400)
          .select($"doc_id", $"text").as[(Long, String)]
          .mapPartitions { it =>
            val auto = graft.pipeline.AutoPartitioner(graft.pipeline.TextPartitioner())
            it.map { case (id, t) =>
              (id, auto.partitionWithPath(graft.pipeline.PdfGen.demo(id, t),
                graft.pipeline.PartitionStrategy.OcrOnly)._2)
            }
          }.toDF("doc_id", "extract_path")
          .transform(graft.operators.Iterate.truncate)      // pool-size + per-path legs read it
        val poolSz = ext.agg(count(lit(1)).cast("long").as("pn"))
        val extRows = ext
          .groupBy(concat(lit("extract:"), $"extract_path").as("stage"))
          .agg(count(lit(1)).cast("long").as("covered"))
          .crossJoin(poolSz).crossJoin(pop)
          .select($"stage", $"pn".as("population"), $"covered",
            ($"n" > 400L).as("capped"))
        poolRows.unionByName(extRows).orderBy($"stage")
      },
      Some(s"""WITH pop AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |pool AS (
             |  SELECT doc_id FROM (
             |    SELECT doc_id,
             |      ${graft.operators.Sampling.hashFractionSql("doc_id", 344L)} AS hf
             |    FROM documents)
             |  ORDER BY hf, doc_id LIMIT 400),
             |poolsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS pn FROM pool),
             |ext AS (
             |  SELECT CASE WHEN doc_id % 8 = 3 THEN 'extract:non_pdf'
             |              WHEN doc_id % 8 = 6 THEN 'extract:pdf_image'
             |              WHEN doc_id % 16 = 7 THEN 'extract:pdf_decrypted'
             |              WHEN doc_id % 16 = 15 THEN 'extract:pdf_encrypted'
             |              ELSE 'extract:pdf_text' END AS stage,
             |    CAST(COUNT(*) AS BIGINT) AS covered
             |  FROM pool GROUP BY 1)
             |SELECT stage, population, covered, capped FROM (
             |  SELECT 'q324_rouge_pool' AS stage, n AS population,
             |    CAST(LEAST(400, n) AS BIGINT) AS covered, n > 400 AS capped
             |  FROM pop
             |  UNION ALL
             |  SELECT 'q339_tfidf_pool', n, CAST(LEAST(400, n) AS BIGINT), n > 400
             |  FROM pop
             |  UNION ALL
             |  SELECT e.stage, p.pn, e.covered, (SELECT n > 400 FROM pop)
             |  FROM ext e, poolsz p)
             |ORDER BY stage""".stripMargin))
  )
}
