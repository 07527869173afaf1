package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{CorpusPipeline, MinHashLsh}

/** q34: the composed corpus-cleanup pipeline (quality gate → exact
  * dedup → MinHash near-dup removal) — every stage mirrored in one
  * oracle SQL, so the full multi-stage operator is hash-verified, not
  * just its pieces. */
object CorpusQueries {

  def q34CorpusClean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CorpusPipeline.clean(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id")
  }

  private val stopList = "('the','a','an','and','of','to','in','is','it','that')"
  private[queries] val nTokens =
    s"CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)"
  private[queries] val quality =
    s"""least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN $stopList)) AS DOUBLE)
       |      / CAST(greatest($nTokens, 1) AS DOUBLE) * 5.0, 1.0) * 0.4
       |  + least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 50.0, 1.0) * 0.4
       |  + greatest(1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(CAST(length(text) AS BIGINT), 1) AS DOUBLE) * 4.0, 0.0) * 0.2""".stripMargin

  val q34Sql: String = {
    val mins = (0 until MinHashLsh.K).map(j =>
      s"list_min(list_transform(hv, h -> (h * ${MinHashLsh.A(j)} + ${MinHashLsh.B(j)}) % 1000000007))")
      .mkString(",\n      |      ")
    s"""WITH gated AS (
      |  SELECT * FROM (
      |    SELECT doc_id, text, $nTokens AS n_tokens,
      |    $quality AS quality
      |    FROM documents) t
      |  WHERE n_tokens >= 5 AND n_tokens <= 1000 AND quality >= 0.3),
      |keep AS (SELECT md5(lower(trim(text))) AS h, min(doc_id) AS doc_id FROM gated GROUP BY 1),
      |ek AS (SELECT g.* FROM gated g JOIN keep k ON g.doc_id = k.doc_id),
      |docs2 AS (
      |  SELECT doc_id AS id,
      |    list_distinct(list_transform(generate_series(1, length(text)-7), i -> substr(text, i, 8))) AS sh_set
      |  FROM ek WHERE length(text) >= 8),
      |hv AS (SELECT id, list_transform(sh_set, s ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007)) AS hv FROM docs2),
      |sig AS (SELECT id, [$mins] AS sig FROM hv),
      |bands AS (SELECT id, b, list_slice(sig, b*4+1, b*4+4) AS slice
      |  FROM sig CROSS JOIN UNNEST([0,1,2,3]) AS t(b)),
      |${HashDedupQueries.bandCapSql},
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM bkept a JOIN bkept b ON a.b = b.b AND a.slice = b.slice AND a.id < b.id),
      |est AS (SELECT id_a, id_b,
      |  CAST(list_sum(list_transform(generate_series(1,16),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_sim
      |  FROM cand JOIN sig sa ON cand.id_a = sa.id JOIN sig sb ON cand.id_b = sb.id),
      |losers AS (SELECT DISTINCT id_b FROM est WHERE est_sim >= 0.5)
      |SELECT doc_id, n_tokens, quality FROM ek
      |WHERE doc_id NOT IN (SELECT id_b FROM losers)
      |ORDER BY doc_id""".stripMargin
  }

  /** q36: the async bounded-concurrency enrichment path (E4) through
    * the correctness gate — same deterministic enricher semantics as
    * the sequential runner, so the pipelined iterator's order
    * preservation is oracle-verified on 15k rows. */
  def q36AsyncEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.enrich.{DeterministicEnricher, EnrichRunner}
    import graft.model.AiConfig
    // sort BEFORE enriching: an orderBy above the opaque enrichment
    // would range-sample its child — re-running every enrichment call a
    // second time just to pick sort bounds. Range-partitioning the
    // cheap input instead and relying on the runner's order-preserving
    // iterator yields globally ordered output with the enrichment
    // executed exactly once (the pattern for any expensive external map
    // whose output must come back in input order).
    val o = Tables.load(s, dir, "orders")
      .withColumn("prompt", concat(lit("Priority "), $"o_orderpriority",
        lit(" order "), $"o_orderkey".cast("string")))
      .repartitionByRange($"o_orderkey")
      .sortWithinPartitions($"o_orderkey")
    EnrichRunner.mapWithResponseAsync(o, "prompt", DeterministicEnricher(),
        AiConfig.test(), concurrency = 8)
      .select($"o_orderkey", $"prompt", $"response")
  }

  val q36Sql: String =
    """SELECT o_orderkey,
      |  'Priority ' || o_orderpriority || ' order ' || CAST(o_orderkey AS VARCHAR) AS prompt,
      |  '[gpt-test] ' || upper(substr('Priority ' || o_orderpriority || ' order ' || CAST(o_orderkey AS VARCHAR), 1, 64)) AS response
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q100: retrieval-corpus preparation — the RAG capstone composition,
    * every stage a proven operator, one oracle for the whole chain:
    *
    *   quality gate (q34's row-local thresholds)
    *   → overlapping chunks (q99: width 200, stride 150)
    *   → hash-embed each chunk (q93's hashing trick)
    *   → corpus-wide near-dup collapse by the embedding's 16-bit sign
    *     signature (its SimHash): first (doc, chunk) per signature wins.
    *
    * Scale shape: gates and chunking are codegen'd projections; the
    * embedding is row-local; the only shuffle carries (sig, ids) — the
    * chunk text never moves after the scan. */
  def q100RetrievalPrep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{GraftFunctions, TextFunctions}
    val gated = Tables.load(s, dir, "documents")
      .select($"doc_id", $"text",
        TextFunctions.tokenCount($"text").as("n_tokens"),
        TextFunctions.qualityScore($"text").as("quality"))
      .filter($"n_tokens" >= 5 && $"n_tokens" <= 1000 && $"quality" >= 0.3)
    val chunks = graft.ext.Chunking.overlapping(gated, "text")
      .select($"doc_id", $"chunk_no", $"chunk")
    val emb = chunks.select($"doc_id", $"chunk_no",
      GraftFunctions.hashEmbed($"chunk", 16).as("e"))
    val signature = (0 until 16).map(i =>
      when(element_at($"e", i + 1) > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val signed = emb.select($"doc_id", $"chunk_no", signature.as("sig"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"sig").orderBy($"doc_id", $"chunk_no")
    signed.withColumn("rn", row_number().over(w))
      .select($"doc_id", $"chunk_no", $"sig",
        ($"rn" === 1).cast("int").as("is_kept"))
      .orderBy($"doc_id", $"chunk_no")
  }

  val q100Sql: String =
    s"""WITH g AS (SELECT doc_id, text FROM (
      |    SELECT doc_id, text, $nTokens AS n_tokens, $quality AS quality
      |    FROM documents) t
      |  WHERE n_tokens >= 5 AND n_tokens <= 1000 AND quality >= 0.3),
      |${MiscQueries.chunkSql("g")},
      |${EmbeddingQueries.embedChain("k", "doc_id, chunk_no", "chunk")},
      |sg0 AS (SELECT doc_id, chunk_no,
      |    CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << d ELSE 0 END) AS BIGINT) AS sig
      |  FROM emb GROUP BY doc_id, chunk_no),
      |sg AS (SELECT k.doc_id, k.chunk_no, COALESCE(sg0.sig, 0) AS sig
      |  FROM k LEFT JOIN sg0 ON k.doc_id = sg0.doc_id AND k.chunk_no = sg0.chunk_no),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sig ORDER BY doc_id, chunk_no) AS rn FROM sg)
      |SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no, sig,
      |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_kept
      |FROM r ORDER BY doc_id, chunk_no""".stripMargin

  /** q118: BM25 ranked retrieval over the q100 retrieval-prep corpus —
    * the chain's missing last stage: quality gate → overlapping chunks
    * → signature near-dup collapse (all q100, reproduced stage for
    * stage) → [[graft.ext.Bm25]] index + ranking over the KEPT chunks.
    * Queries are the corpus's own top-df terms in groups of 3; scores
    * are exact fixed-point integers (see Bm25's scaladoc), so the whole
    * five-stage composition is hash-verified end to end.
    *
    * Chunk identity packs as doc_id·100000 + chunk_no (chunk_no is
    * bounded by text-length/stride ≪ 100000) so the ranking operator
    * keys on one BIGINT. */
  /** The q100-shaped kept-chunk corpus q118/q208 rank over — one
    * definition so the retrieval twins can never fork upstream. */
  private def bm25KeptChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{GraftFunctions, TextFunctions}
    val gated = Tables.load(s, dir, "documents")
      .select($"doc_id", $"text",
        TextFunctions.tokenCount($"text").as("n_tokens"),
        TextFunctions.qualityScore($"text").as("quality"))
      .filter($"n_tokens" >= 5 && $"n_tokens" <= 1000 && $"quality" >= 0.3)
    val chunks = graft.ext.Chunking.overlapping(gated, "text")
      .select($"doc_id", $"chunk_no", $"chunk")
    val emb = chunks.select($"doc_id", $"chunk_no", $"chunk",
      GraftFunctions.hashEmbed($"chunk", 16).as("e"))
    val signature = (0 until 16).map(i =>
      when(element_at($"e", i + 1) > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val signed = emb.select($"doc_id", $"chunk_no", $"chunk", signature.as("sig"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"sig").orderBy($"doc_id", $"chunk_no")
    signed.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select(($"doc_id" * 100000L + $"chunk_no").as("id"), $"chunk")
  }

  private def bm25RankedSelect(ranked: DataFrame): DataFrame = {
    import ranked.sparkSession.implicits._
    ranked.select($"qid", $"rank",
        expr("id DIV 100000").as("doc_id"), ($"id" % 100000L).as("chunk_no"),
        $"score_fp")
      .orderBy($"qid", $"rank")
  }

  /** Session-scoped cache of the BM25 index over the kept-chunk corpus
    * — the retrieval twins q118/q208 rank over the IDENTICAL artifact
    * (one tokenize+aggregate pass, eagerly checkpointed inside
    * [[graft.ext.Bm25.index]]); without sharing each twin re-runs the
    * full gate→chunk→signature→dedup→tokenize chain. The
    * [[TextQueries]] shingleCache discipline applied to the retrieval
    * family's corpus-version artifact. */
  private val keptBm25Cache = SessionArtifact[graft.ext.Bm25.Index]("kept_bm25")

  private def sharedKeptChunksBm25(s: SparkSession, dir: String): graft.ext.Bm25.Index =
    keptBm25Cache(s, dir) {
      graft.ext.Bm25.index(bm25KeptChunks(s, dir), "id", "chunk")
    }

  def q118Bm25(s: SparkSession, dir: String): DataFrame = {
    val ix = sharedKeptChunksBm25(s, dir)
    bm25RankedSelect(graft.ext.Bm25.rankTopK(
      ix.scores(ix.queryTerms(8, 3)), 10))
  }

  /** q208: q118's exact top-k through the MaxScore prune
    * ([[graft.ext.Bm25.topKMaxScore]] — per-term impact bounds from
    * the index's own postings, a threshold from the top-impact term's
    * candidates, and a suffix-bound prune ahead of the id-keyed
    * aggregation). Shares q118's oracle VERBATIM: the prune is
    * exactness-preserving by the bound argument in its scaladoc, and
    * the green hash certifies precisely that. On THIS corpus the
    * prune is honestly a no-op (word-salad text: every chunk matches
    * a high-impact term — Bm25Spec pins prunable = 0 here and
    * prunable ≥ 20 on a skewed corpus with a genuine low-impact tail,
    * the selective-query shape MaxScore exists for). */
  /** Session-scoped cache of the kept-chunk index's per-term impact
    * bounds ([[graft.ext.Bm25.impacts]]) — the BUILD-TIME artifact that
    * method's scaladoc prescribes (vocab-sized, persisted beside dfreq
    * by a real serve, never recomputed per query): r18 restricted the
    * per-query computation to the batch's own terms to shrink the
    * repeated work; r19 computes the full artifact ONCE per session
    * instead, so a serve stops paying any posting-sized pass for
    * bounds at all. Values on the query's terms are identical either
    * way (each term's bound is over its full posting list). */
  private val keptImpactsCache = SessionArtifact[DataFrame]("kept_impacts")

  private def sharedKeptImpacts(s: SparkSession, dir: String): DataFrame =
    keptImpactsCache(s, dir) {
      val ix = sharedKeptChunksBm25(s, dir)
      graft.ext.Bm25.impacts(ix).localCheckpoint(true)
    }

  def q208Bm25MaxScore(s: SparkSession, dir: String): DataFrame = {
    val ix = sharedKeptChunksBm25(s, dir)
    // 24 rows feeding the prune — checkpoint so the dfreq top-k
    // selection runs once (the hybridRankers discipline)
    val qt = ix.queryTerms(8, 3).localCheckpoint(true)
    // restrict the vocab-sized artifact to the batch's terms BEFORE it
    // enters topKMaxScore's broadcast: the serve scans the checkpointed
    // bounds table once (vocab-sized scan, never a posting-sized pass)
    // and ships ≤ 24 rows — broadcasting the whole vocabulary would be
    // the 100 TB mistake
    val qimpacts = sharedKeptImpacts(s, dir).join(
      broadcast(qt.select(col("term"))), Seq("term"), "left_semi")
    bm25RankedSelect(graft.ext.Bm25.topKMaxScore(ix, qt, 10, qimpacts))
  }

  val q118Sql: String =
    s"""WITH g AS (SELECT doc_id, text FROM (
      |    SELECT doc_id, text, $nTokens AS n_tokens, $quality AS quality
      |    FROM documents) t
      |  WHERE n_tokens >= 5 AND n_tokens <= 1000 AND quality >= 0.3),
      |${MiscQueries.chunkSql("g")},
      |${EmbeddingQueries.embedChain("k", "doc_id, chunk_no", "chunk")},
      |sg0 AS (SELECT doc_id, chunk_no,
      |    CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << d ELSE 0 END) AS BIGINT) AS sig
      |  FROM emb GROUP BY doc_id, chunk_no),
      |sg AS (SELECT k.doc_id, k.chunk_no, k.chunk, COALESCE(sg0.sig, 0) AS sig
      |  FROM k LEFT JOIN sg0 ON k.doc_id = sg0.doc_id AND k.chunk_no = sg0.chunk_no),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sig ORDER BY doc_id, chunk_no) AS rn FROM sg),
      |kept AS (SELECT doc_id * 100000 + chunk_no AS id, chunk FROM r WHERE rn = 1),
      |btoks AS (SELECT id, term FROM (
      |    SELECT id, unnest(string_split_regex(trim(lower(chunk)), '\\s+')) AS term
      |    FROM kept) t
      |  WHERE term <> ''),
      |tf AS (SELECT id, term, COUNT(*) AS tf FROM btoks GROUP BY id, term),
      |dl AS (SELECT id, SUM(tf) AS dl FROM tf GROUP BY id),
      |nn AS (SELECT COUNT(*) AS n FROM dl),
      |tt AS (SELECT SUM(tf) AS t FROM tf),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |rt AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS r FROM dfreq),
      |qt AS (SELECT term, df, CAST((r - 1) // 3 AS BIGINT) AS qid FROM rt WHERE r <= 24),
      |contrib AS (SELECT qt.qid, tf.id,
      |    CAST(length(bin(2 * nn.n + 1)) - length(bin(2 * qt.df + 1)) AS BIGINT)
      |      * (tf.tf * (20 * tt.t)) * 1000000
      |      // (tf.tf * (8 * tt.t) + 3 * tt.t + dl.dl * (9 * nn.n)) AS c
      |  FROM tf JOIN qt USING (term) JOIN dl USING (id) CROSS JOIN nn CROSS JOIN tt),
      |score AS (SELECT qid, id, CAST(SUM(c) AS BIGINT) AS score_fp FROM contrib GROUP BY qid, id),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, id) AS rank FROM score)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, id // 100000 AS doc_id, id % 100000 AS chunk_no, score_fp
      |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** q121: hybrid retrieval — BM25 (sparse) and hashing-trick embedding
    * dot-product (dense) rankings over the documents corpus, merged by
    * reciprocal-rank fusion ([[graft.ext.Rrf]]). The query workload is
    * the BM25 index's own derived term groups; the dense query vector
    * is the sum of the group's term sign-vectors (hashEmbed is additive
    * over tokens, so term order is irrelevant). Every stage — BM25
    * fixed-point scores, integer dot products, `Scale DIV (60+rank)`
    * fusion — is exact-integer, so the full hybrid stack hash-verifies.
    *
    * Scale: the dense baseline scores corpus×8 queries via a broadcast
    * nested-loop over the 8-row query-vector table (the q22/q94 class —
    * allowlisted); its ANN twins (q68/q95) are the billion-doc path.
    * Fusion itself touches ≤ 20 rows per query. */
  /** Session-scoped cache of the BM25 index over the (non-empty-text)
    * documents corpus — ONE tokenize+aggregate build feeding the
    * hybrid rankers (q121/q142) and the persisted-serve publisher
    * (q180, which writes these very frames to the registry). */
  private val docsBm25Cache = SessionArtifact[graft.ext.Bm25.Index]("docs_bm25")

  private def sharedDocsBm25Index(s: SparkSession, dir: String): graft.ext.Bm25.Index =
    docsBm25Cache(s, dir) {
      graft.ext.Bm25.index(
        Tables.load(s, dir, "documents").filter(length(trim(col("text"))) > 0),
        "doc_id", "text")
    }

  /** Session-scoped cache of the full hybrid-ranker construction —
    * q121 and q142 consume the IDENTICAL index, query-term groups and
    * sparse/dense top-10 rankings (q142 adds only its set ranker and
    * the 3-way fusion), so the corpus-sized scoring passes materialize
    * once per (session, dir). The ranking frames are ≤ 80 rows each. */
  private val hybridCache = SessionArtifact[(graft.ext.Bm25.Index, DataFrame, DataFrame, DataFrame)]("hybrid")

  /** Shared sparse+dense ranker construction for q121/q142: the BM25
    * index over the corpus, its derived query-term groups, and the two
    * per-query top-10 rankings. One index build feeds everything. */
  private def hybridRankers(s: SparkSession, dir: String): (graft.ext.Bm25.Index, DataFrame, DataFrame, DataFrame) =
    hybridCache(s, dir) {
      val ix0 = sharedDocsBm25Index(s, dir)
      buildHybridRankers(s, dir, ix0)
    }

  private def buildHybridRankers(s: SparkSession, dir: String,
      ix: graft.ext.Bm25.Index): (graft.ext.Bm25.Index, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    import graft.functions.GraftFunctions
    import graft.ext.Bm25
    val docs = Tables.load(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
    // 24 rows feeding every retriever — checkpoint so the top-k term
    // selection runs once
    val qt = ix.queryTerms(nQueries = 8, termsPerQuery = 3).localCheckpoint(true)
    val sparse = Bm25.rankTopK(ix.scores(qt), 10).select($"qid", $"id", $"rank")
    val qvec = qt.select($"qid", posexplode(GraftFunctions.hashEmbed($"term", 16)))
      .groupBy($"qid", $"pos").agg(sum($"col").as("qv"))
      .groupBy($"qid").agg(
        transform(array_sort(collect_list(struct($"pos", $"qv"))),
          x => x("qv")).as("qe"))
    val de = docs.select($"doc_id", GraftFunctions.hashEmbed($"text", 16).as("e"))
    val dot = de.crossJoin(broadcast(qvec))
      .select($"qid", $"doc_id".as("id"),
        aggregate(zip_with($"e", $"qe", (x, y) => x * y), lit(0L), _ + _).as("dot"))
    val kw = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"dot".desc, $"id")
    val dense = dot.withColumn("rank", row_number().over(kw).cast("long"))
      .filter($"rank" <= 10).select($"qid", $"id", $"rank")
    // ≤ 80 rows each, eagerly materialized: the cached tuple must not
    // re-run the corpus-sized scoring passes for the second consumer
    (ix, qt, sparse.localCheckpoint(true), dense.localCheckpoint(true))
  }

  def q121RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, _, sparse, dense) = hybridRankers(s, dir)
    graft.ext.Rrf.fuse(Seq("bm25" -> sparse, "dense" -> dense), topK = 10)
      .select($"qid", $"rank", $"id".as("doc_id"), $"rrf_fp", $"r_bm25", $"r_dense")
      .orderBy($"qid", $"rank")
  }

  /** q142: THREE-way hybrid retrieval — q121's BM25 (sparse) and
    * hashing-trick dot-product (dense) rankers joined by a third,
    * EXACT set-overlap ranker (the q116 family: per query, documents
    * ranked by exact Jaccard between the 3-term query set and the
    * document's distinct token set — fixed-point
    * `inter·10^6 DIV (3 + |d| − inter)`), fused N-way by
    * reciprocal-rank fusion. Exercises [[graft.ext.Rrf.fuse]]'s
    * general N-list path end-to-end under the hash gate; every score
    * is an exact integer.
    *
    * Scale shape: the set ranker reuses the checkpointed BM25
    * term-frequency table — the term equi-join IS its posting-list
    * candidate generation (only docs sharing a query term score);
    * fusion still touches ≤ lists·k rows per query. */
  def q142TripleRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (ix, qt, sparse, dense) = hybridRankers(s, dir)
    val dsz = ix.tf.groupBy($"id").agg(count(lit(1)).as("nd"))
    val inter = ix.tf.join(broadcast(qt.select($"qid", $"term")), "term")
      .groupBy($"qid", $"id").agg(count(lit(1)).as("inter"))
    val scored = inter.join(dsz, "id")
      .select($"qid", $"id",
        expr("inter * 1000000L DIV (3 + nd - inter)").as("jac_fp"))
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"jac_fp".desc, $"id")
    val setR = scored.withColumn("rank", row_number().over(sw).cast("long"))
      .filter($"rank" <= 10).select($"qid", $"id", $"rank")
    graft.ext.Rrf.fuse(
        Seq("bm25" -> sparse, "dense" -> dense, "set" -> setR), topK = 10)
      .select($"qid", $"rank", $"id".as("doc_id"), $"rrf_fp",
        $"r_bm25", $"r_dense", $"r_set")
      .orderBy($"qid", $"rank")
  }

  /** Shared oracle CTEs for q121/q142: BM25 index + derived queries +
    * the sparse (`sp`, r_bm25) and dense (`dn`, r_dense) per-query
    * top-10 rankings. Like regChainSql, this block must never fork
    * between the two hybrid-retrieval oracles. */
  /** DuckDB replay of the BM25-over-documents chain through the
    * summed `score` CTE — shared by the hybrid rankers (q121/q142) and
    * the persisted-index serve (q180), so the scoring recipe cannot
    * fork between the in-process and loaded paths. */
  private[queries] val bm25ScoreChainSql: String =
    s"""btoks AS (SELECT id, term FROM (
      |    SELECT doc_id AS id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      |    FROM documents WHERE length(trim(text)) > 0) t
      |  WHERE term <> ''),
      |tf AS (SELECT id, term, COUNT(*) AS tf FROM btoks GROUP BY id, term),
      |dl AS (SELECT id, SUM(tf) AS dl FROM tf GROUP BY id),
      |nn AS (SELECT COUNT(*) AS n FROM dl),
      |tt AS (SELECT SUM(tf) AS t FROM tf),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |rt AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS r FROM dfreq),
      |qt AS (SELECT term, df, CAST((r - 1) // 3 AS BIGINT) AS qid FROM rt WHERE r <= 24),
      |contrib AS (SELECT qt.qid, tf.id,
      |    CAST(length(bin(2 * nn.n + 1)) - length(bin(2 * qt.df + 1)) AS BIGINT)
      |      * (tf.tf * (20 * tt.t)) * 1000000
      |      // (tf.tf * (8 * tt.t) + 3 * tt.t + dl.dl * (9 * nn.n)) AS c
      |  FROM tf JOIN qt USING (term) JOIN dl USING (id) CROSS JOIN nn CROSS JOIN tt),
      |score AS (SELECT qid, id, CAST(SUM(c) AS BIGINT) AS score_fp FROM contrib GROUP BY qid, id)""".stripMargin

  private val hybridRankersSql: String =
    s"""$bm25ScoreChainSql,
      |sp AS (SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, id) AS BIGINT) AS r_bm25
      |  FROM score QUALIFY r_bm25 <= 10),
      |${EmbeddingQueries.embedChain("documents", "doc_id", "text")},
      |qth AS (SELECT qid, term, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(term)), i -> CAST(unicode(substr(term, i, 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 2147483648) AS h FROM qt),
      |qemb AS (SELECT qid, d,
      |    CAST(SUM(CASE WHEN (h >> d) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS qv
      |  FROM qth CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS d) dims
      |  GROUP BY qid, d),
      |dots AS (SELECT q.qid, e.doc_id AS id, SUM(q.qv * e.v) AS dot
      |  FROM qemb q JOIN emb e ON q.d = e.d GROUP BY q.qid, e.doc_id),
      |dn AS (SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, id) AS BIGINT) AS r_dense
      |  FROM dots QUALIFY r_dense <= 10)""".stripMargin

  val q121Sql: String =
    s"""WITH $hybridRankersSql,
      |f AS (SELECT COALESCE(sp.qid, dn.qid) AS qid, COALESCE(sp.id, dn.id) AS id,
      |    sp.r_bm25, dn.r_dense
      |  FROM sp FULL OUTER JOIN dn ON sp.qid = dn.qid AND sp.id = dn.id),
      |rrf AS (SELECT qid, id,
      |    CAST(COALESCE(1000000 // (60 + r_bm25), 0)
      |       + COALESCE(1000000 // (60 + r_dense), 0) AS BIGINT) AS rrf_fp,
      |    r_bm25, r_dense FROM f),
      |fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_fp DESC, id) AS BIGINT) AS rank FROM rrf)
      |SELECT qid, rank, id AS doc_id, rrf_fp, r_bm25, r_dense
      |FROM fr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  val q142Sql: String =
    s"""WITH $hybridRankersSql,
      |dsz AS (SELECT id, COUNT(*) AS nd FROM tf GROUP BY id),
      |itr AS (SELECT qt.qid, tf.id, COUNT(*) AS inter
      |  FROM tf JOIN qt USING (term) GROUP BY qt.qid, tf.id),
      |js AS (SELECT itr.qid, itr.id,
      |    CAST(inter * 1000000 // (3 + dsz.nd - inter) AS BIGINT) AS jac_fp
      |  FROM itr JOIN dsz USING (id)),
      |st AS (SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY jac_fp DESC, id) AS BIGINT) AS r_set
      |  FROM js QUALIFY r_set <= 10),
      |f2 AS (SELECT COALESCE(sp.qid, dn.qid) AS qid, COALESCE(sp.id, dn.id) AS id,
      |    sp.r_bm25, dn.r_dense
      |  FROM sp FULL OUTER JOIN dn ON sp.qid = dn.qid AND sp.id = dn.id),
      |f3 AS (SELECT COALESCE(f2.qid, st.qid) AS qid, COALESCE(f2.id, st.id) AS id,
      |    f2.r_bm25, f2.r_dense, st.r_set
      |  FROM f2 FULL OUTER JOIN st ON f2.qid = st.qid AND f2.id = st.id),
      |rrf AS (SELECT qid, id,
      |    CAST(COALESCE(1000000 // (60 + r_bm25), 0)
      |       + COALESCE(1000000 // (60 + r_dense), 0)
      |       + COALESCE(1000000 // (60 + r_set), 0) AS BIGINT) AS rrf_fp,
      |    r_bm25, r_dense, r_set FROM f3),
      |fr AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_fp DESC, id) AS BIGINT) AS rank FROM rrf)
      |SELECT qid, rank, id AS doc_id, rrf_fp, r_bm25, r_dense, r_set
      |FROM fr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** q148: the training-data RELEASE pipeline — the capstone chaining
    * this round's operators into the end-to-end corpus-release shape,
    * with ONE oracle for the whole composition (the q34/q100/q118
    * discipline):
    *
    *   quality gate (q100's row-local thresholds)
    *   → deterministic eval holdout (doc_id % 10 = 0 NEVER released)
    *   → exact dedup among the train split (q18 digests, min-id keeps)
    *   → span-level DECONTAMINATION (q146's ratio: drop any train doc
    *     whose winnowing fingerprints are ≥ 90% shared with the eval
    *     slice — the wholesale-copy tier; light boilerplate overlap is
    *     tolerated, and docs too short to fingerprint cannot leak a
    *     span and are kept)
    *   → BPE vocabulary trained ON THE SURVIVORS (q143; the release's
    *     own tokenizer, not one fit to data that was filtered away)
    *   → per-doc BPE token counts (q145) and a deterministic
    *     avalanched-hash shard assignment (replayable, no RNG state).
    *
    * Output: one row per released doc — (doc_id, n_tokens, quality,
    * n_bpe_tokens, shard 0..7). Scale shape: gates/fingerprints/BPE
    * application are row-local or vocabulary-sized; the only
    * corpus-sized shuffles carry digests, fingerprints, and words —
    * never text after the scan. */
  /** The release set and its own trained tokenizer — the expensive,
    * corpus-version half of q148 (gates → exact dedup → span
    * decontamination → BPE trained on the survivors), materialized
    * once per (session, dir): the released frame is eagerly
    * checkpointed (three consumers) and the trained merge/dict frames
    * are vocabulary-sized. The q137/q143 session-artifact discipline
    * applied to the capstone's interior. */
  private val releaseCache = SessionArtifact[(DataFrame, graft.ext.BpeTrain.Trained)]("release")

  private def sharedRelease(s: SparkSession, dir: String)
      : (DataFrame, graft.ext.BpeTrain.Trained) =
    releaseCache(s, dir) {
      val fpsAll = MiningQueries.sharedWinnowFps(s, dir)
      import graft.functions.TextFunctions
      import graft.ext.BpeTrain
      val docs = Tables.load(s, dir, "documents")
      val gated = docs.select(col("doc_id"), col("text"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .filter(col("n_tokens") >= 5 && col("n_tokens") <= 1000 &&
          col("quality") >= 0.3)
      val train = gated.filter(col("doc_id") % 10 =!= 0)
      val keepIds = train
        .groupBy(md5(lower(trim(col("text")))).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val deduped = train.join(keepIds, "doc_id")
      val evalFps = fpsAll.filter(col("id") % 10 === 0).select(col("fp")).distinct()
      val contaminated = fpsAll.filter(col("id") % 10 =!= 0)
        .join(evalFps.withColumn("hit", lit(1)), Seq("fp"), "left")
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_fp"), count(col("hit")).as("n_shared"))
        .filter(expr("n_shared * 1000000L DIV n_fp") >= 900000L)
        .select(col("id").as("doc_id"))
      val released = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      (released, BpeTrain.trainBatched(
        BpeTrain.wordDict(released, "text"), TextQueries.BpeMerges))
    }

  def q148ReleasePipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.GraftFunctions
    import graft.ext.{BpeTrain, Hll}
    val (released, trained) = sharedRelease(s, dir)
    val agg = BpeTrain.docWords(released, "text", carry = Seq("doc_id"))
      .join(broadcast(BpeTrain.tokenCounts(trained)), "word")
      .groupBy($"doc_id").agg(sum($"n_bpe").as("n_bpe_tokens"))
    GraftFunctions.register(s)
    released.select($"doc_id", $"n_tokens", $"quality")
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"quality",
        coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
        (Hll.hash31($"doc_id".cast("string")) % 8).as("shard"))
      .orderBy($"doc_id")
  }

  val q148Sql: String =
    s"""WITH ${MiningQueries.winnowFpsSql},
      |g AS (SELECT doc_id, text, $nTokens AS n_tokens, $quality AS quality
      |  FROM documents),
      |gt AS (SELECT * FROM g
      |  WHERE n_tokens >= 5 AND n_tokens <= 1000 AND quality >= 0.3),
      |tr AS (SELECT * FROM gt WHERE doc_id % 10 <> 0),
      |keep AS (SELECT md5(lower(trim(text))) AS h, MIN(doc_id) AS doc_id
      |  FROM tr GROUP BY 1),
      |dd AS (SELECT tr.* FROM tr JOIN keep ON tr.doc_id = keep.doc_id),
      |evalf AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 = 0),
      |contam AS (SELECT doc_id FROM (
      |    SELECT f.doc_id, COUNT(*) AS n_fp, CAST(COUNT(e.fp) AS BIGINT) AS n_shared
      |    FROM (SELECT doc_id, fp FROM fps WHERE doc_id % 10 <> 0) f
      |    LEFT JOIN evalf e ON f.fp = e.fp GROUP BY f.doc_id) t
      |  WHERE n_shared * 1000000 // n_fp >= 900000),
      |rel AS MATERIALIZED (SELECT dd.* FROM dd
      |  LEFT JOIN contam c ON dd.doc_id = c.doc_id WHERE c.doc_id IS NULL),
      |${TextQueries.bpeChainSqlFrom("rel")},
      |dict AS (SELECT word, CAST(len(string_split(sym, ' ')) - 1 AS BIGINT) AS n_bpe
      |  FROM w${TextQueries.BpeMerges}),
      |agg AS (SELECT doc_id, CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
      |  FROM toks JOIN dict USING (word) GROUP BY doc_id),
      |shp0 AS (SELECT doc_id, n_tokens, quality,
      |    ${AnalyticsQueries.polyhashSql("CAST(doc_id AS VARCHAR)")} AS h FROM rel),
      |${AnalyticsQueries.fmixChainSql("sh", "shp0", Seq("doc_id", "n_tokens", "quality"))}
      |SELECT s.doc_id, s.n_tokens, s.quality,
      |  COALESCE(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
      |  s.h % 8 AS shard
      |FROM shh s LEFT JOIN agg ON s.doc_id = agg.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** The BM25 index over the documents corpus, persisted to parquet
    * once per (session, dir) and served back as LOADED lazy scans —
    * the `sharedPersistedLshIndex` / `VectorIndexStore` discipline
    * applied to sparse retrieval. */
  private val bm25StoreCache = SessionArtifact[graft.ext.Bm25.Index]("bm25_store")

  private[queries] def sharedPersistedBm25(s: SparkSession, dir: String): graft.ext.Bm25.Index =
    bm25StoreCache(s, dir) {
      val ix0 = sharedDocsBm25Index(s, dir)
      val docs = Tables.load(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val ix = ix0
      val fp = docs.agg(expr("bit_xor(doc_id)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "bm25_index", fp, Seq(
        "tf" -> ix.tf, "dl" -> ix.dl, "dfreq" -> ix.dfreq,
        "globals" -> s.range(1).select(lit(ix.n).as("n"), lit(ix.t).as("t"))))
      graft.ext.Bm25.readIndex(s, reg.versionPath(s, root, "bm25_index", v))
    }

  /** q180: BM25 serving from the PERSISTED index — the q121 sparse
    * ranking with every index part (tf, dl, idf-annotated vocabulary,
    * the two scalar globals) arriving from parquet storage: the
    * search-serving deployment shape, where the inverted index is a
    * storage artifact and a query batch pays one broadcast join + one
    * id-keyed aggregation, never a tokenize or train pass (the
    * q173/q174/q176 registry discipline applied to retrieval — its
    * last uncovered serving artifact). idf_bits persists WITH the
    * vocabulary, frozen at build time, exactly what an index snapshot
    * means. The oracle rebuilds the whole chain from raw text, so the
    * green hash certifies the four-part round trip bit-lossless. */
  def q180PersistedBm25Serve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ix = sharedPersistedBm25(s, dir)
    graft.ext.Bm25.rankTopK(ix.scores(ix.queryTerms(8, 3)), 10)
      .select($"qid", $"rank", $"id".as("doc_id"), $"score_fp")
      .orderBy($"qid", $"rank")
  }

  val q180Sql: String =
    s"""WITH $bm25ScoreChainSql,
      |rk AS (SELECT qid, id, score_fp,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, id) AS BIGINT) AS rank FROM score)
      |SELECT qid, rank, id AS doc_id, score_fp
      |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_persisted_bm25_serve" -> (q180PersistedBm25Serve _),
    "q148_release_pipeline" -> (q148ReleasePipeline _),
    "q34_corpus_clean" -> (q34CorpusClean _),
    "q36_async_enrich" -> (q36AsyncEnrich _),
    "q100_retrieval_prep" -> (q100RetrievalPrep _),
    "q118_bm25" -> (q118Bm25 _),
    "q208_bm25_maxscore" -> (q208Bm25MaxScore _),
    "q142_triple_rrf" -> (q142TripleRrf _),
    "q121_rrf_fusion" -> (q121RrfFusion _))

  val oracle: Map[String, String] = Map(
    "q180_persisted_bm25_serve" -> q180Sql,
    "q34_corpus_clean" -> q34Sql,
    "q148_release_pipeline" -> q148Sql,
    "q36_async_enrich" -> q36Sql,
    "q100_retrieval_prep" -> q100Sql,
    "q118_bm25" -> q118Sql,
    // q208 shares q118's oracle on purpose: the MaxScore prune is
    // exactness-preserving, so identical SQL gates identical output
    "q208_bm25_maxscore" -> q118Sql,
    "q142_triple_rrf" -> q142Sql,
    "q121_rrf_fusion" -> q121Sql)
}
