package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.BloomPrune
import graft.operators.ColOps.{dec, dsum}
import graft.ext.{Quantize, Repetition, Similarity}
import graft.functions.{GraftFunctions, TopKFunctions}
import org.apache.spark.sql.expressions.Window

/** Round-3 additions: bloom-pruned semi join (q63), int8 scalar
  * quantization (q64), repetition-based quality gating (q65), and full
  * IVF ANN search (q66). Oracles mirror every arithmetic step; integer
  * outputs wherever possible (quantized codes, gram counts) so parity
  * is exact by construction. */
object CurationQueries {

  /** q63: bloom-pruned fact↔dim semi join + aggregate. The bloom is a
    * pre-shuffle row filter; the exact semi join removes its false
    * positives, so the oracle is the plain `IN` subquery. */
  def q63BloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.load(s, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 450000.0)
      .select($"o_orderkey")
    BloomPrune.bloomSemiJoin(
        Tables.load(s, dir, "lineitem"), "l_orderkey",
        urgent, "o_orderkey", expectedItems = 10000L)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"), dsum(dec($"l_quantity")).as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val q63Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q64: int8 scalar quantization + integer ADC scan against vec 0.
    * Codes and every output are exact integers. */
  def q64Sq8Quantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Quantize.sq8ScanStats(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", refId = 0L)
      .select($"id".as("vec_id"), $"code_sum", $"code_wsum", $"iprod_ref")
      .orderBy($"vec_id")
  }

  val q64Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |mm AS (SELECT d, min(e[d]) AS mn, max(e[d]) AS mx
      |       FROM v, generate_series(1, 64) AS t(d) GROUP BY d),
      |mma AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM mm),
      |codes AS (SELECT vec_id,
      |  list_transform(generate_series(1, 64),
      |    d -> CASE WHEN mxs[d] = mns[d] THEN CAST(0 AS BIGINT)
      |         ELSE CAST(round((e[d] - mns[d]) * 255.0 / (mxs[d] - mns[d])) AS BIGINT) END) AS cs
      |  FROM v, mma),
      |q0 AS (SELECT cs AS c0 FROM codes WHERE vec_id = 0)
      |SELECT vec_id,
      |  CAST(list_sum(cs) AS BIGINT) AS code_sum,
      |  CAST(list_sum(list_transform(generate_series(1, 64), d -> d * cs[d])) AS BIGINT) AS code_wsum,
      |  CAST(list_sum(list_transform(generate_series(1, 64),
      |    d -> (cs[d] - 128) * (c0[d] - 128))) AS BIGINT) AS iprod_ref
      |FROM codes, q0 ORDER BY vec_id""".stripMargin

  /** q65: repetition quality gate — integer n-gram occurrence counts
    * and a multiplication-only keep decision, via the shuffle-free
    * row-local kernel (spec-checked equal to the relational
    * explode+aggregate formulation, which the oracle mirrors). */
  def q65RepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Repetition.ngramRepetitionStatsLocal(Tables.load(s, dir, "documents"), "doc_id", "text")
      .select($"id".as("doc_id"), $"n2_total", $"n2_top", $"n3_total", $"n3_distinct", $"keep_flag")
      .orderBy($"doc_id")
  }

  val q65Sql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1])) AS g FROM toks),
      |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
      |s2 AS (SELECT doc_id, SUM(c) AS n2_total, MAX(c) AS n2_top FROM c2 GROUP BY doc_id),
      |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM toks),
      |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
      |s3 AS (SELECT doc_id, SUM(c) AS n3_total, COUNT(*) AS n3_distinct FROM c3 GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(s2.n2_total, 0) AS BIGINT) AS n2_total,
      |  CAST(COALESCE(s2.n2_top, 0) AS BIGINT) AS n2_top,
      |  CAST(COALESCE(s3.n3_total, 0) AS BIGINT) AS n3_total,
      |  CAST(COALESCE(s3.n3_distinct, 0) AS BIGINT) AS n3_distinct,
      |  CAST(CASE WHEN COALESCE(s2.n2_top, 0) * 100 <= COALESCE(s2.n2_total, 0) * 20
      |         AND (COALESCE(s3.n3_total, 0) - COALESCE(s3.n3_distinct, 0)) * 100
      |               <= COALESCE(s3.n3_total, 0) * 30
      |       THEN 1 ELSE 0 END AS INT) AS keep_flag
      |FROM documents d
      |LEFT JOIN s2 ON d.doc_id = s2.doc_id
      |LEFT JOIN s3 ON d.doc_id = s3.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q66: IVF ANN search — probe the 4 nearest of 16 clusters per
    * query, exact cosine inside the probed slice, top-10. */
  def q66IvfSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    Similarity.ivfSearch(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding",
        k = 10, nClusters = 16, nProbe = 4)
      .orderBy($"query_id", $"rank")
  }

  val q66Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |s AS (SELECT vec_id AS seed_id, e AS se, nrm AS snrm FROM n ORDER BY vec_id LIMIT 16),
      |asg0 AS (SELECT n.vec_id, n.e, n.nrm, s.seed_id,
      |  list_sum(list_transform(generate_series(1,64), i -> n.e[i]*s.se[i])) / (n.nrm*s.snrm) AS cos
      |  FROM n CROSS JOIN s),
      |asg AS (SELECT vec_id, e, nrm, seed_id AS cluster FROM
      |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
      |   FROM asg0) t WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qnrm FROM n WHERE vec_id < 10),
      |pr0 AS (SELECT q.query_id, q.qe, q.qnrm, s.seed_id,
      |  list_sum(list_transform(generate_series(1,64), i -> q.qe[i]*s.se[i])) / (q.qnrm*s.snrm) AS pcos
      |  FROM q CROSS JOIN s),
      |pr AS (SELECT query_id, qe, qnrm, seed_id AS cluster FROM
      |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pcos DESC, seed_id) AS rn
      |   FROM pr0) t WHERE rn <= 4),
      |sc AS (SELECT pr.query_id, a.vec_id AS neighbor_id,
      |  list_sum(list_transform(generate_series(1,64), i -> pr.qe[i]*a.e[i])) / (pr.qnrm*a.nrm) AS cos
      |  FROM pr JOIN asg a ON pr.cluster = a.cluster AND a.vec_id != pr.query_id),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM sc)
      |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** q67: token-budget sharding — contiguous ~2000-token shards over
    * doc_id order via the scalable prefix sum (no global window). The
    * oracle's `SUM OVER (ORDER BY)` is exactly what the distributed
    * two-pass prefix sum replaces. */
  def q67TokenShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Packing
    // tokenCount is THE token definition (native TokenStats kernel,
    // spec'd equal to the HOF split) — q67 and q72 must agree on shard
    // arithmetic, so neither re-implements the count inline
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id",
        graft.functions.TextFunctions.tokenCount($"text").as("n_tokens"))
    Packing.tokenShards(docs, "doc_id", "n_tokens", capacity = 2000L)
      .orderBy($"doc_id")
  }

  val q67Sql: String =
    """WITH d AS (SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM d)
      |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
      |  CAST((cum_tokens - n_tokens) // 2000 AS BIGINT) AS shard_id
      |FROM c ORDER BY doc_id""".stripMargin

  /** q70: corpus mixing — deterministic stratified downsampling to a
    * target language mixture (en to 40%, de to 80%, rest kept). The
    * keep decision is polyhash(doc_id) mod 10000 < rate — no RNG, so
    * the oracle replays it exactly. Output is the achieved per-language
    * mix. */
  def q70CorpusMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Mixing
    val kept = Mixing.stratifiedSample(Tables.load(s, dir, "documents"),
      "doc_id", "lang", ratesBp = Map("en" -> 4000, "de" -> 8000))
    kept.groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
      .orderBy($"lang")
  }

  val q70Sql: String =
    s"""WITH h AS (SELECT *,
      |    (${AnalyticsQueries.polyhashSql("CAST(doc_id AS VARCHAR)")}
      |      * 1103515245 + 12345) % 2147483648 AS __a,
      |    ${AnalyticsQueries.keyBp2Sql("__a")} AS hk FROM documents),
      |kept AS (SELECT * FROM h WHERE hk < CASE lang WHEN 'en' THEN 4000
      |                                              WHEN 'de' THEN 8000
      |                                              ELSE 10000 END)
      |SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM kept GROUP BY lang ORDER BY lang""".stripMargin

  /** q106: temperature-scaled language rebalancing (α = 1/2) — q70's
    * fixed rates replaced by rates COMPUTED from the corpus
    * ([[graft.ext.Mixing.temperatureRates]]): kept counts ∝ √n_lang,
    * the standard exponent that upsamples rare languages in a training
    * mix. Keep decisions are the same replayable avalanched polyhash.
    * Output: per-language audit (n_docs, w, rate_bp, n_kept) — the
    * report a mixing run ships with. */
  def q106TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Mixing
    val docs = Tables.load(s, dir, "documents")
    val rates = Mixing.temperatureRates(docs, "lang")
    val kept = Mixing.sampleWithRates(docs, "doc_id", "lang", rates)
      .groupBy($"lang").agg(count(lit(1)).as("n_kept"))
    rates.join(broadcast(kept), Seq("lang"), "left")
      .select($"lang", $"n_docs", $"w", $"rate_bp",
        coalesce($"n_kept", lit(0L)).as("n_kept"))
      .orderBy($"lang")
  }

  val q106Sql: String =
    s"""WITH n AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |w AS (SELECT lang, n_docs, CAST(FLOOR(SQRT(n_docs)) AS BIGINT) AS w FROM n),
      |r AS (SELECT lang, n_docs, w,
      |  LEAST(10000, 10000 * (SELECT MIN(w) FROM w) // w) AS rate_bp FROM w),
      |h AS (SELECT d.lang,
      |    (${AnalyticsQueries.polyhashSql("CAST(doc_id AS VARCHAR)")}
      |      * 1103515245 + 12345) % 2147483648 AS __a,
      |    ${AnalyticsQueries.keyBp2Sql("__a")} AS hk, r.rate_bp
      |  FROM documents d JOIN r ON d.lang = r.lang),
      |k AS (SELECT lang, COUNT(*) AS n_kept FROM h WHERE hk < rate_bp GROUP BY lang)
      |SELECT r.lang, r.n_docs, r.w, CAST(r.rate_bp AS BIGINT) AS rate_bp,
      |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
      |FROM r LEFT JOIN k ON r.lang = k.lang ORDER BY r.lang""".stripMargin

  /** q71: benchmark decontamination — docs (doc_id ≥ 20) sharing any
    * 24-gram hashed shingle with the "eval set" (doc_id < 20) are
    * dropped. 24 chars ≈ a 4-5 word phrase: long enough that overlap
    * means real contamination, not vocabulary coincidence (at n=8 this
    * corpus's narrow vocabulary contaminates everything — the window
    * length is the gate's precision knob). Shingle hashing replays
    * q19's rolling polyhash. */
  def q71Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Dedup
    val docs = Tables.load(s, dir, "documents")
    Dedup.decontaminate(docs.filter($"doc_id" >= 20), "doc_id", "text",
        benchmark = docs.filter($"doc_id" < 20), n = 24)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  val q71Sql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) >= 24 THEN
      |      list_distinct(list_transform(
      |        list_transform(generate_series(1, length(text)-23), i -> substr(text, i, 24)),
      |        s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |          (acc, x) -> (acc * 31 + x) % 1000000007)))
      |    ELSE CAST([] AS BIGINT[]) END AS s
      |  FROM documents),
      |bench AS (SELECT DISTINCT unnest(s) AS h FROM sh WHERE doc_id < 20),
      |contaminated AS (SELECT DISTINCT f.doc_id
      |  FROM (SELECT doc_id, unnest(s) AS h FROM sh WHERE doc_id >= 20) f
      |  JOIN bench b ON f.h = b.h)
      |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
      |WHERE d.doc_id >= 20 AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      |ORDER BY d.doc_id""".stripMargin

  /** q72: the FULL curation composition ([[graft.ext.CurationPipeline]])
    * — quality gate → repetition gate → decontamination (vs doc_id<20)
    * → exact dedup → MinHash near-dup → en-downsampling mix → token
    * shards — every stage mirrored in ONE oracle SQL. The capstone
    * check that the composed operators agree with their composed
    * replays, not just piecewise. */
  def q72Curate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.CurationPipeline
    val docs = Tables.load(s, dir, "documents")
    CurationPipeline.curate(
        docs.filter($"doc_id" >= 20), "doc_id", "text", "lang",
        benchmark = docs.filter($"doc_id" < 20).select($"text"),
        params = CurationPipeline.Params(mixRatesBp = Map("en" -> 5000)))
      .orderBy($"doc_id")
  }

  val q72Sql: String = {
    import graft.ext.MinHashLsh
    val mins = (0 until MinHashLsh.K).map(j =>
      s"list_min(list_transform(hv, h -> (h * ${MinHashLsh.A(j)} + ${MinHashLsh.B(j)}) % 1000000007))")
      .mkString(",\n      |      ")
    val nTokens = CorpusQueries.nTokens
    val quality = CorpusQueries.quality
    s"""WITH base AS (SELECT * FROM documents WHERE doc_id >= 20),
      |stats AS (SELECT doc_id, text, lang, $nTokens AS n_tokens,
      |  $quality AS quality FROM base),
      |gated AS (SELECT * FROM stats WHERE n_tokens >= 5 AND n_tokens <= 1000 AND quality >= 0.3),
      |toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM gated),
      |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
      |         i -> t[i] || ' ' || t[i+1])) AS g FROM toks),
      |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
      |s2 AS (SELECT doc_id, SUM(c) AS n2_total, MAX(c) AS n2_top FROM c2 GROUP BY doc_id),
      |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM toks),
      |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
      |s3 AS (SELECT doc_id, SUM(c) AS n3_total, COUNT(*) AS n3_distinct FROM c3 GROUP BY doc_id),
      |unrep AS (SELECT g.* FROM gated g
      |  LEFT JOIN s2 ON g.doc_id = s2.doc_id LEFT JOIN s3 ON g.doc_id = s3.doc_id
      |  WHERE COALESCE(s2.n2_top, 0) * 100 <= COALESCE(s2.n2_total, 0) * 20
      |    AND (COALESCE(s3.n3_total, 0) - COALESCE(s3.n3_distinct, 0)) * 100
      |          <= COALESCE(s3.n3_total, 0) * 30),
      |sh24 AS (SELECT doc_id,
      |  CASE WHEN length(text) >= 24 THEN
      |    list_distinct(list_transform(
      |      list_transform(generate_series(1, length(text)-23), i -> substr(text, i, 24)),
      |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 1000000007)))
      |  ELSE CAST([] AS BIGINT[]) END AS s
      |  FROM unrep),
      |bench24 AS (SELECT DISTINCT unnest(
      |  CASE WHEN length(text) >= 24 THEN
      |    list_distinct(list_transform(
      |      list_transform(generate_series(1, length(text)-23), i -> substr(text, i, 24)),
      |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 1000000007)))
      |  ELSE CAST([] AS BIGINT[]) END) AS h
      |  FROM documents WHERE doc_id < 20),
      |cont AS (SELECT DISTINCT f.doc_id
      |  FROM (SELECT doc_id, unnest(s) AS h FROM sh24) f JOIN bench24 b ON f.h = b.h),
      |clean AS (SELECT * FROM unrep WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      |keep AS (SELECT md5(lower(trim(text))) AS h, min(doc_id) AS doc_id FROM clean GROUP BY 1),
      |ek AS (SELECT c.* FROM clean c JOIN keep k ON c.doc_id = k.doc_id),
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
      |losers AS (SELECT DISTINCT id_b FROM est WHERE est_sim >= 0.5),
      |nk AS (SELECT * FROM ek WHERE doc_id NOT IN (SELECT id_b FROM losers)),
      |mixed AS (SELECT * FROM (
      |    SELECT *, (${AnalyticsQueries.polyhashSql("CAST(doc_id AS VARCHAR)")}
      |      * 1103515245 + 12345) % 2147483648 AS __a FROM nk) mk
      |  WHERE ${AnalyticsQueries.keyBp2Sql("__a")}
      |    < CASE lang WHEN 'en' THEN 5000 ELSE 10000 END),
      |cum AS (SELECT doc_id, lang, n_tokens, quality,
      |  SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM mixed)
      |SELECT doc_id, lang, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens,
      |  CAST((cum_tokens - n_tokens) // 2000 AS BIGINT) AS shard_id
      |FROM cum ORDER BY doc_id""".stripMargin
  }

  /** q73: SemDeDup — IVF-cluster the embeddings, cosine pairs within
    * clusters, transitive duplicate groups, min-id representative. The
    * oracle replays the assignment (q66's), the in-cluster pairwise
    * cosine, and the closure via a recursive CTE (q47's technique). */
  def q73SemDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.SemDeDup
    SemDeDup.dedup(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        nClusters = 16, minCos = 0.4)
      .select($"id".as("vec_id"), $"rep_id", $"is_kept")
      .orderBy($"vec_id")
  }

  val q73Sql: String =
    """WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |s AS (SELECT vec_id AS seed_id, e AS se, nrm AS snrm FROM n ORDER BY vec_id LIMIT 16),
      |asg0 AS (SELECT n.vec_id, n.e, n.nrm, s.seed_id,
      |  list_sum(list_transform(generate_series(1,64), i -> n.e[i]*s.se[i])) / (n.nrm*s.snrm) AS cos
      |  FROM n CROSS JOIN s),
      |asg AS (SELECT vec_id, e, nrm, seed_id AS cluster FROM
      |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
      |   FROM asg0) t WHERE rn = 1),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_sum(list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])) / (a.nrm*b.nrm) AS cos
      |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
      |pairs AS (SELECT id_a, id_b FROM p WHERE cos >= 0.4),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      |lab AS (SELECT id AS vec_id, min(r) AS rep_id FROM reach GROUP BY id)
      |SELECT vec_id, rep_id,
      |  CAST(CASE WHEN vec_id = rep_id THEN 1 ELSE 0 END AS INT) AS is_kept
      |FROM lab ORDER BY vec_id""".stripMargin

  /** q97: balanced sequence packing — documents dealt into a fixed
    * number of worker bins by size-rank round-robin (rank docs by token
    * count descending, bin = rank mod nBins: the distributed greedy
    * balancer — each bin draws one doc from every consecutive size
    * block, so bin loads differ by at most ~one max-size doc). The rank
    * is [[graft.operators.CoreOps.withRowIndexByOrder]]'s
    * range-partition + offset recipe, NOT a single-partition global
    * window; complements q67's CONTIGUOUS token-budget shards (packing
    * for worker balance vs sharding for sequence locality). */
  def q97PackBins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.load(s, dir, "documents")
      .select($"doc_id", graft.functions.TextFunctions.tokenCount($"text").as("toks"))
    graft.operators.CoreOps.withRowIndexByOrder(toks, "rk", $"toks".desc, $"doc_id".asc)
      .withColumn("bin", $"rk" % 16)
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("bin_tokens"),
        max($"toks").as("max_doc"), min($"toks").as("min_doc"))
      .select($"bin", $"n_docs", $"bin_tokens".cast("long").as("bin_tokens"),
        $"max_doc", $"min_doc")
      .orderBy($"bin")
  }

  val q97Sql: String =
    """WITH d AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |    END AS toks FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY toks DESC, doc_id) - 1 AS rk FROM d),
      |b AS (SELECT rk % 16 AS bin, toks FROM r)
      |SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
      |  CAST(SUM(toks) AS BIGINT) AS bin_tokens,
      |  CAST(MAX(toks) AS BIGINT) AS max_doc, CAST(MIN(toks) AS BIGINT) AS min_doc
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** q101: exact-k stratified sampling — training mixes usually specify
    * COUNTS per source, not fractions (q70): rank each stratum's rows by
    * an avalanched hash of the id (uniform, reproducible, no RNG state)
    * and keep the first k. Deterministic across engines and re-runs;
    * the bounded top-k groups on the stratum, so no global sort. A
    * stratum smaller than k yields all its rows. */
  def q101StratifiedK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 20
    // q70's mix recipe: polyhash of the id string, LCG-avalanched
    val mixed = (GraftFunctions.polyhash($"doc_id".cast("string")) * 1103515245L
      + 12345L) % 2147483648L
    TopKFunctions.ranked(Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", mixed.as("hk")), Seq("lang"), Seq($"hk", $"doc_id"), k)
      .select($"doc_id", $"lang", $"rank".as("rn"))
      .orderBy($"lang", $"rn")
  }

  val q101Sql: String =
    """WITH h AS (SELECT doc_id, lang, (list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(CAST(doc_id AS VARCHAR))),
      |      i -> CAST(unicode(substr(CAST(doc_id AS VARCHAR), i, 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) * 1103515245 + 12345)
      |    % 2147483648 AS hk FROM documents),
      |r AS (SELECT doc_id, lang,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS BIGINT) AS rn
      |  FROM h)
      |SELECT doc_id, lang, rn FROM r WHERE rn <= 20
      |ORDER BY lang, rn""".stripMargin

  /** q144: DSIR-style importance-weighted mixing — the per-DOCUMENT
    * selection primitive the stratum-rate family (q70/q101/q106)
    * lacks. Target slice: `lang = 'en'`. Every document is scored by
    * its hashed-unigram likelihood under the target vs the corpus
    * ([[graft.ext.Dsir.importanceScores]] — exact integer centered-
    * lift sums, DECIMAL(38,0) numerators), the score maps to a keep-
    * rate in basis points, and the keep decision is the same
    * replayable avalanched polyhash as every other sampler. Output is
    * the per-language selection audit: documents that LOOK like the
    * target keep at higher rates wherever they are, so the kept mix
    * shifts toward en without any per-stratum rate being set by hand
    * (sum_rate_bp/n_docs is the deterministic per-language evidence;
    * n_kept realizes it through the hash). Empty documents carry no
    * evidence and are excluded. */
  def q144DsirMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.{Dsir, Mixing}
    val scored = Dsir.importanceScores(Tables.load(s, dir, "documents"),
        "doc_id", "text", targetPred = $"lang" === "en", carryCols = Seq("lang"))
      .withColumn("rate_bp", Dsir.rateBp($"score"))
    scored.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(Mixing.keyBp($"doc_id") < $"rate_bp", lit(1))).as("n_kept"),
        sum($"rate_bp").as("sum_rate_bp"),
        min($"score").as("min_score"),
        max($"score").as("max_score"))
      .orderBy($"lang")
  }

  /** Shared DSIR oracle chain (q144/q150): hashed-unigram buckets →
    * smoothed target/corpus lift table → per-document centered-lift
    * scores `ds(doc_id, lang, n_toks, score)`. ONE definition so the
    * two gates replay the SAME weights. */
  private def dsirChainSql: String = {
    val ph = AnalyticsQueries.polyhashSql("tok")
    s"""toks AS (SELECT doc_id, lang,
      |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      |  FROM documents WHERE trim(text) <> ''),
      |tb AS (SELECT doc_id, lang, lang = 'en' AS is_target, $ph % 64 AS b FROM toks),
      |st AS (SELECT b, COUNT(*) AS n_c, COUNT(*) FILTER (is_target) AS n_t
      |  FROM tb GROUP BY b),
      |tot AS (SELECT CAST(SUM(n_c) AS BIGINT) AS nc_tot,
      |    CAST(SUM(n_t) AS BIGINT) AS nt_tot FROM st),
      |lift AS (SELECT b,
      |    CAST(CAST(n_t + 1 AS HUGEINT) * (nc_tot + 64) * 1000000
      |      // (CAST(n_c + 1 AS HUGEINT) * (nt_tot + 64)) AS BIGINT) AS lift_ppm
      |  FROM st CROSS JOIN tot),
      |ds AS (SELECT tb.doc_id, tb.lang, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |    CAST(SUM(l.lift_ppm - 1000000) AS BIGINT) AS score
      |  FROM tb JOIN lift l ON tb.b = l.b GROUP BY tb.doc_id, tb.lang)""".stripMargin
  }

  val q144Sql: String = {
    val keep = AnalyticsQueries.polyhashSql("CAST(doc_id AS VARCHAR)")
    s"""WITH $dsirChainSql,
      |rt AS (SELECT *, LEAST(10000, GREATEST(0, 5000 + score // 200)) AS rate_bp
      |  FROM ds),
      |kp AS (SELECT *, ($keep * 1103515245 + 12345) % 2147483648 AS __a,
      |    ${AnalyticsQueries.keyBp2Sql("__a")} AS hk FROM rt)
      |SELECT lang, COUNT(*) AS n_docs,
      |  COUNT(*) FILTER (hk < rate_bp) AS n_kept,
      |  CAST(SUM(rate_bp) AS BIGINT) AS sum_rate_bp,
      |  CAST(MIN(score) AS BIGINT) AS min_score,
      |  CAST(MAX(score) AS BIGINT) AS max_score
      |FROM kp GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q150: DSIR exact-k selection — the fixed-BUDGET companion to
    * q144's rate-based sampler: the k most target-like documents by
    * centered-lift importance score, deterministic (score DESC, doc_id)
    * order. This is "give me the best 100 documents for this target",
    * the selection mode a curriculum or fine-tuning-set build runs;
    * q144 answers "keep each document with probability ∝ its score".
    * Shares [[graft.ext.Dsir.importanceScores]] and the oracle chain
    * with q144, so the weights cannot fork. Scale shape: a global
    * [[TopKFunctions.ranked]] (map-side partial top-k, nothing
    * corpus-sized sorts). */
  def q150DsirTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Dsir
    val k = 100
    val scored = Dsir.importanceScores(Tables.load(s, dir, "documents"),
      "doc_id", "text", targetPred = $"lang" === "en", carryCols = Seq("lang"))
    TopKFunctions.ranked(scored, Nil, Seq($"score".desc, $"doc_id"), k)
      .localCheckpoint(false) // ≤ k rows; the final order runs over this
      .select($"rank", $"doc_id", $"lang", $"n_toks", $"score")
      .orderBy($"rank")
  }

  val q150Sql: String =
    s"""WITH $dsirChainSql,
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      |  FROM ds)
      |SELECT rank, doc_id, lang, n_toks, score FROM r WHERE rank <= 100
      |ORDER BY rank""".stripMargin

  /** q154: DSIR Gumbel-top-k-style SAMPLED selection — the without-
    * replacement random companion to q150's deterministic top-k:
    * instead of the k highest scores, draw k documents with inclusion
    * probability increasing in importance score. Gumbel-top-k
    * (score + Gumbel(u) noise, take top-k) has no exact integer twin
    * (−ln(−ln u) is transcendental), so the perturbed key is the
    * family's exact-integer equivalent from q128's priority sampling
    * (Duffield-Lund-Thorup / Efraimidis-Spirakis weighted-key family):
    * weight w = q144's keep-rate rate_bp (monotone in score), uniform
    * stand-in u = (h+1)/2^31 from the replayable avalanched hash of
    * the doc id, perturbed key pri = w·2^31 DIV (h+1) ≈ w/u, take the
    * k largest (ties by doc_id). For any fixed hash draw the key is
    * nondecreasing in score (pinned by spec), so higher-scoring
    * documents are selected with higher probability — while the hash
    * keeps every draw bit-replayable. Scale shape: scoring is q144's
    * one-pass chain; the top-k is q150's global
    * [[TopKFunctions.ranked]] (map-side partial top-k). */
  def q154DsirGumbelTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.{Dsir, Hll}
    val k = 100
    val scored = Dsir.importanceScores(Tables.load(s, dir, "documents"),
        "doc_id", "text", targetPred = $"lang" === "en", carryCols = Seq("lang"))
      .withColumn("rate_bp", Dsir.rateBp($"score"))
      .withColumn("h", Hll.hash31($"doc_id".cast("string")))
      .withColumn("pri", expr("rate_bp * 2147483648L DIV (h + 1)"))
    TopKFunctions.ranked(scored, Nil, Seq($"pri".desc, $"doc_id"), k)
      .localCheckpoint(false) // ≤ k rows; the final order runs over this
      .select($"rank", $"doc_id", $"lang", $"score", $"rate_bp", $"pri")
      .orderBy($"rank")
  }

  val q154Sql: String = {
    val ph = AnalyticsQueries.polyhashSql("CAST(doc_id AS VARCHAR)")
    s"""WITH $dsirChainSql,
      |rt AS (SELECT doc_id, lang, score,
      |    LEAST(10000, GREATEST(0, 5000 + score // 200)) AS rate_bp FROM ds),
      |gkp0 AS (SELECT doc_id, lang, score, rate_bp, $ph AS h FROM rt),
      |${AnalyticsQueries.fmixChainSql("gk", "gkp0",
        Seq("doc_id", "lang", "score", "rate_bp"))},
      |pri AS (SELECT doc_id, lang, score, rate_bp,
      |    rate_bp * 2147483648 // (h + 1) AS pri FROM gkh),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pri DESC, doc_id) AS BIGINT) AS rank
      |  FROM pri)
      |SELECT rank, doc_id, lang, CAST(score AS BIGINT) AS score,
      |  CAST(rate_bp AS BIGINT) AS rate_bp, CAST(pri AS BIGINT) AS pri
      |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin
  }

  /** q184: per-source quality cap — keep each source's top-k documents
    * by quality score (the C4/Gopher-style per-domain cap: a single
    * prolific domain must not dominate the mix no matter how much it
    * crawls; complements q101's hash-uniform exact-k with the
    * QUALITY-RANKED variant a curation pass actually ships). Rank is
    * a per-source bounded top-k over (quality DESC, doc_id) —
    * deterministic ties, no global sort; at 100 TB this is one shuffle
    * on the source key carrying ≤ k rows per (partition, source).
    * Quality is the engine-wide q16 score, whose arithmetic already
    * hash-matches DuckDB bit-for-bit. */
  def q184SourceCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.qualityScore
    TopKFunctions.ranked(Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", qualityScore($"text").as("quality")),
        Seq("source"), Seq($"quality".desc, $"doc_id"), 10)
      .select($"source", $"rank", $"doc_id", $"quality")
      .orderBy($"source", $"rank")
  }

  val q184Sql: String =
    s"""SELECT source, rank, doc_id, quality FROM (
      |  SELECT source, doc_id, q AS quality,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS BIGINT) AS rank
      |  FROM (SELECT doc_id, source, ${CorpusQueries.quality} AS q FROM documents) t) r
      |WHERE rank <= 10 ORDER BY source, rank""".stripMargin

  /** q187: k-anonymity generalization ladder over the release
    * metadata's quasi-identifiers (lang, source, length bucket) —
    * the privacy gate a published training-data manifest passes
    * before its per-document metadata ships (Sweeney's k-anonymity;
    * a rare (lang, source, length) combination pinpoints a document
    * even with the text withheld). Local recoding
    * ([[graft.ext.KAnon]]): each document publishes the finest
    * prefix of the ladder
    *   L0 (lang, source, len_bucket) → L1 (lang, source) →
    *   L2 (lang) → L3 (fully suppressed)
    * whose RELEASE equivalence class clears k — gated on residual
    * masses (sub-k cell mass per pair, sub-k pair mass per lang),
    * not raw marginals, because under local recoding an attacker
    * with full quasi-identifiers excludes every finer row whose
    * retained attributes disagree (see the KAnon object doc).
    * `class_n` certifies the class size; a spec re-groups the output
    * by published pattern and checks count = class_n ≥ k.
    *
    * Scale shape: cell counts and residual tables are bounded by
    * attribute cardinality (langs × sources × buckets), so they
    * broadcast; the corpus takes three broadcast hash joins inside
    * one scan pass and never shuffles. The level decision is a
    * row-local comparison. */
  def q187KAnonymize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = graft.ext.KAnon.quasi(Tables.load(s, dir, "documents"))
    val (c0, r1, r2) = graft.ext.KAnon.marginals(q)
    graft.ext.KAnon.publish(q, c0, r1, r2).orderBy($"doc_id")
  }

  /** The q187 generalization-ladder CTE chain (d → cell counts →
    * residual masses → lv → pub, the per-doc published pattern) —
    * shared verbatim by q187's oracle and the q189/q190 audits, so
    * the release the audits inspect can never fork from the one q187
    * publishes. k and the bucket width interpolate from
    * [[graft.ext.KAnon]] so engine and oracle cannot drift. */
  private[queries] val kAnonCtesSql: String = {
    val k = graft.ext.KAnon.K
    s"""d AS (SELECT doc_id, lang, source,
      |    n_chars // ${graft.ext.KAnon.BucketChars} AS len_bucket FROM documents),
      |c0 AS (SELECT lang, source, len_bucket, COUNT(*) AS n0 FROM d GROUP BY ALL),
      |r1 AS (SELECT lang, source, SUM(n0) AS r1 FROM c0 WHERE n0 < $k GROUP BY ALL),
      |r2 AS (SELECT lang, SUM(r1) AS r2 FROM r1 WHERE r1 < $k GROUP BY ALL),
      |lv AS (SELECT d.doc_id, d.lang, d.source, d.len_bucket, c0.n0,
      |    COALESCE(r1.r1, 0) AS r1, COALESCE(r2.r2, 0) AS r2,
      |    CASE WHEN c0.n0 >= $k THEN 0 WHEN COALESCE(r1.r1, 0) >= $k THEN 1
      |         WHEN COALESCE(r2.r2, 0) >= $k THEN 2 ELSE 3 END AS level
      |  FROM d JOIN c0 USING (lang, source, len_bucket)
      |    LEFT JOIN r1 USING (lang, source) LEFT JOIN r2 USING (lang)),
      |pub AS (SELECT doc_id,
      |  CASE WHEN level <= 2 THEN lang ELSE '*' END AS g_lang,
      |  CASE WHEN level <= 1 THEN source ELSE '*' END AS g_source,
      |  CASE WHEN level = 0 THEN CAST(len_bucket AS VARCHAR) ELSE '*' END AS g_len,
      |  CAST(level AS INT) AS level,
      |  CAST(CASE level WHEN 0 THEN n0 WHEN 1 THEN r1 WHEN 2 THEN r2 ELSE 0 END AS BIGINT) AS class_n
      |FROM lv)""".stripMargin
  }

  val q187Sql: String =
    s"""WITH $kAnonCtesSql
      |SELECT doc_id, g_lang, g_source, g_len, level, class_n
      |FROM pub ORDER BY doc_id""".stripMargin

  /** q189: l-diversity audit of the q187 release (Machanavajjhala et
    * al.'s homogeneity attack) — k-anonymity alone doesn't stop
    * inference: if every document in a published equivalence class
    * shares the same SENSITIVE value, matching the class reveals it
    * even though no individual row is identifiable. Sensitive
    * attribute here: the q158 CCNet surprisal tercile (head/middle/
    * tail — the quality verdict a release's consumers act on). Per
    * published class: audited member count, l = distinct buckets
    * present, the majority bucket's size and exact-ppm share, and the
    * l ≥ 2 verdict. Classes with l_diverse = 0 leak their members'
    * verdicts; the release shipper either coarsens them further or
    * withholds the bucket column for them. Docs without bigrams carry
    * no bucket and are outside the audit (n_audited counts audited
    * members only).
    *
    * Scale shape: the published pattern is q187's broadcast-marginal
    * chain; the bucket is the session-shared surprisal table + the
    * bounded-histogram tercile walk; the audit itself is two
    * aggregations on keys bounded by attribute cardinality — nothing
    * corpus-sized shuffles beyond the one class-keyed fold. */
  /** The one per-doc (published class, sensitive bucket) frame both
    * privacy audits fold — the Spark twin of [[kAnonAuditCtesSql]]'s
    * `j` CTE, factored for the same reason: q189 and q190 must
    * inspect the SAME release and the SAME sensitive attribute, and a
    * shared constructor makes a fork impossible. */
  private def kAnonAudited(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pub = q187KAnonymize(s, dir)
      .select($"doc_id", $"g_lang", $"g_source", $"g_len", $"level")
    val sens = graft.ext.SurprisalScore.ccnetBucketsFrom(
        MiningQueries.sharedSurprisal(s, dir),
        Tables.load(s, dir, "documents"), "doc_id", "lang")
      .select($"doc_id", $"bucket")
    pub.join(sens, "doc_id")
  }

  def q189LDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kAnonAudited(s, dir)
      .groupBy($"g_lang", $"g_source", $"g_len", $"level", $"bucket")
      .agg(count(lit(1)).as("nb"))
      .groupBy($"g_lang", $"g_source", $"g_len", $"level")
      .agg(sum($"nb").as("n_audited"),
        count(lit(1)).as("l_distinct"),
        max($"nb").as("top_bucket_n"))
      // DECIMAL(38,0) numerator: count·10⁶ exceeds 2^63 past ~9.2e12
      // audited docs in a class (the q175/q181 token-mass discipline);
      // IntegralDivide lands the ppm-bounded result back in a long
      .withColumn("majority_ppm",
        expr("CAST(top_bucket_n AS DECIMAL(38,0)) * 1000000 DIV n_audited"))
      .withColumn("l_diverse", ($"l_distinct" >= 2).cast("int"))
      .orderBy($"g_lang", $"g_source", $"g_len", $"level")
  }

  /** The q189/q190 shared audit prefix: the q187 release chain
    * ([[kAnonCtesSql]]) + the ONE tercile chain
    * ([[MiningQueries.ccnetSensCtesSql]], q158's recipe) + the
    * per-doc (published class, sensitive bucket) join `j` — one
    * recipe, so the two privacy audits inspect the SAME release and
    * the SAME sensitive attribute by construction. */
  private[queries] val kAnonAuditCtesSql: String =
    s"""$kAnonCtesSql,
      |${MiningQueries.ccnetSensCtesSql},
      |j AS (SELECT p.g_lang, p.g_source, p.g_len, p.level, se.bucket
      |  FROM pub p JOIN sens se USING (doc_id))""".stripMargin

  val q189Sql: String =
    s"""WITH $kAnonAuditCtesSql,
      |cb AS (SELECT g_lang, g_source, g_len, level, bucket, COUNT(*) AS nb
      |  FROM j GROUP BY ALL)
      |SELECT g_lang, g_source, g_len, level,
      |  CAST(SUM(nb) AS BIGINT) AS n_audited,
      |  CAST(COUNT(*) AS BIGINT) AS l_distinct,
      |  CAST(MAX(nb) AS BIGINT) AS top_bucket_n,
      |  CAST(CAST(MAX(nb) AS HUGEINT) * 1000000 // SUM(nb) AS BIGINT) AS majority_ppm,
      |  CAST(CASE WHEN COUNT(*) >= 2 THEN 1 ELSE 0 END AS INT) AS l_diverse
      |FROM cb GROUP BY g_lang, g_source, g_len, level
      |ORDER BY g_lang, g_source, g_len, level""".stripMargin

  /** t-closeness threshold (ppm): a class's tercile distribution may
    * sit at most this EMD from the corpus-global one (Li et al. use
    * t ≈ 0.15–0.2 in the paper's examples; 0.2 here). */
  private val TClosePpm = 200000L

  /** q190: t-closeness audit of the q187 release (Li, Li &
    * Venkatasubramanian) — l-diversity's known failure mode: a class
    * can be l-diverse yet SKEWED (90% tail / 10% head still tells an
    * attacker the member is almost surely tail). Per published class,
    * the Earth Mover's Distance between the class's sensitive
    * distribution and the corpus-global one, over the ORDERED tercile
    * attribute (head < middle < tail), computed on exact
    * ppm-quantized ECDFs (the q171 integer-ECDF discipline):
    *   emd_ppm = (|F_class − F_global|(head)
    *            + |F_class − F_global|(head+middle)) DIV 2
    * where each F is count·10⁶ DIV n, the count·10⁶ product carried in
    * DECIMAL(38,0) (it passes 2^63 past ~9.2e12 audited docs — the
    * q175/q181 token-mass discipline) and every quotient ppm-bounded
    * back in BIGINT, so the audit is exact at any corpus size.
    * t_close flags classes within [[TClosePpm]]; the release shipper
    * coarsens or withholds the rest. Completes the release-privacy
    * trio: q187 k-anonymity, q189 l-diversity, q190 t-closeness.
    *
    * Scale shape: reuses q189's audit join (broadcast ladder +
    * shared surprisal terciles); the class pivot is one aggregation
    * on attribute-bounded keys; the global distribution is a one-row
    * rollup OF THE CLASS TABLE (already bounded), broadcast back —
    * nothing corpus-sized moves after the per-doc join. */
  def q190TCloseness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cls = kAnonAudited(s, dir)
      .groupBy($"g_lang", $"g_source", $"g_len", $"level")
      .agg(count(lit(1)).as("n_audited"),
        sum(when($"bucket" === "head", 1L).otherwise(0L)).as("n_head"),
        sum(when($"bucket" === "middle", 1L).otherwise(0L)).as("n_middle"),
        sum(when($"bucket" === "tail", 1L).otherwise(0L)).as("n_tail"))
    val glob = cls.agg(sum($"n_audited").as("gn"), sum($"n_head").as("gh"),
      sum($"n_middle").as("gm"))
    cls.crossJoin(broadcast(glob))
      // each count·10⁶ product in DECIMAL(38,0) (overflow-free at any
      // class size); every DIV lands back in a ppm-bounded long
      .withColumn("emd_ppm", expr(
        """(abs(CAST(n_head AS DECIMAL(38,0)) * 1000000 DIV n_audited
          |      - CAST(gh AS DECIMAL(38,0)) * 1000000 DIV gn)
          | + abs(CAST(n_head + n_middle AS DECIMAL(38,0)) * 1000000 DIV n_audited
          |        - CAST(gh + gm AS DECIMAL(38,0)) * 1000000 DIV gn)) DIV 2""".stripMargin))
      .withColumn("t_close", ($"emd_ppm" <= TClosePpm).cast("int"))
      .select($"g_lang", $"g_source", $"g_len", $"level", $"n_audited",
        $"n_head", $"n_middle", $"n_tail", $"emd_ppm", $"t_close")
      .orderBy($"g_lang", $"g_source", $"g_len", $"level")
  }

  val q190Sql: String =
    s"""WITH $kAnonAuditCtesSql,
      |cls AS (SELECT g_lang, g_source, g_len, level,
      |    CAST(COUNT(*) AS BIGINT) AS n_audited,
      |    CAST(SUM(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
      |    CAST(SUM(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
      |    CAST(SUM(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_tail
      |  FROM j GROUP BY ALL),
      |gtot AS (SELECT SUM(n_audited) AS gn, SUM(n_head) AS gh,
      |    SUM(n_middle) AS gm FROM cls)
      |SELECT g_lang, g_source, g_len, level, n_audited, n_head, n_middle, n_tail,
      |  CAST((abs(CAST(n_head AS HUGEINT) * 1000000 // n_audited
      |          - CAST(gh AS HUGEINT) * 1000000 // gn)
      |      + abs(CAST(n_head + n_middle AS HUGEINT) * 1000000 // n_audited
      |             - CAST(gh + gm AS HUGEINT) * 1000000 // gn)) // 2 AS BIGINT) AS emd_ppm,
      |  CAST(CASE WHEN (abs(CAST(n_head AS HUGEINT) * 1000000 // n_audited
      |          - CAST(gh AS HUGEINT) * 1000000 // gn)
      |      + abs(CAST(n_head + n_middle AS HUGEINT) * 1000000 // n_audited
      |             - CAST(gh + gm AS HUGEINT) * 1000000 // gn)) // 2 <= $TClosePpm
      |    THEN 1 ELSE 0 END AS INT) AS t_close
      |FROM cls, gtot
      |ORDER BY g_lang, g_source, g_len, level""".stripMargin

  /** Shard count of the q191 epoch shuffle — the ONE engine-wide
    * definition ([[graft.ext.Mixing.ShuffleShards]]), shared with the
    * streaming router so batch and stream can never disagree. */
  private val ShuffleShards = graft.ext.Mixing.ShuffleShards

  /** q191: epoch-deterministic corpus shuffle — the data-ordering step
    * a multi-epoch training run needs: every epoch must visit the
    * whole corpus in a DIFFERENT pseudo-random order, yet the order
    * must be reproducible (resume after preemption, replay for debug,
    * audit which examples a checkpoint saw). No materialized
    * permutation, no RNG state: each (epoch, doc) gets a full-range
    * avalanched key ([[graft.ext.Mixing.shuffleKey]] — the engine-wide
    * two-round sampler hash with the epoch tag hashed INTO the id),
    * the key's HIGH bits pick the shard (low-bit lattice safe), and
    * the within-shard position is the key order. A loader streams
    * shard files in position order; epochs 0-2 here.
    *
    * Scale shape: the key is row-local; the only shuffle is the
    * (epoch, shard)-keyed exchange a sharded output needs anyway, and
    * the within-shard rank window partitions by (epoch, shard) — at
    * real scale the shard count grows with the corpus, so no partition
    * outgrows a loader file. Nothing global: no corpus-wide sort, no
    * driver state. */
  /** Proportional shard from the full-range key — the ONE shard map
    * ([[graft.ext.Mixing.shardOf]]), shared with the streaming
    * router. */
  private def shardOf = graft.ext.Mixing.shardOf(col("skey"))

  /** The keyed-and-sharded (epoch, doc_id, skey, shard) frame behind
    * the shuffle family — q191 ranks it, q193 folds it into the
    * loader manifest; one definition so schedule and manifest can
    * never disagree on a key or a shard boundary. */
  private def epochKeyed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", explode(array((0 until 3).map(lit): _*)).as("epoch"))
      .select($"epoch", $"doc_id",
        graft.ext.Mixing.shuffleKey($"epoch", $"doc_id").as("skey"))
      .withColumn("shard", shardOf)
  }

  def q191EpochShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"epoch", $"shard").orderBy($"skey", $"doc_id")
    epochKeyed(s, dir)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"epoch", $"shard", $"pos", $"doc_id", $"skey")
      .orderBy($"epoch", $"shard", $"pos")
  }

  /** q193: epoch-shard integrity manifest — the bounded artifact a
    * data loader validates BEFORE streaming an epoch's shard files
    * (and re-validates on resume): per (epoch, shard) the member
    * count, the key range, and order-independent XOR checksums of the
    * member ids and keys. XOR, not SUM: commutative/associative like
    * the shard's unordered file layout, and it cannot overflow at any
    * corpus size (a 10¹²-doc shard's id-sum would pass 2⁶³; its XOR
    * cannot). A shard file that lost, duplicated, or swapped a
    * document fails count, checksum, or range — cheaply, without
    * re-reading the schedule. One scan + an (epochs × shards)-bounded
    * rollup; no window, no sort. */
  def q193ShardManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    epochKeyed(s, dir)
      .groupBy($"epoch", $"shard")
      .agg(count(lit(1)).as("n_docs"),
        min($"skey").as("min_skey"), max($"skey").as("max_skey"),
        expr("bit_xor(doc_id)").as("xor_doc"),
        expr("bit_xor(skey)").as("xor_skey"))
      .orderBy($"epoch", $"shard")
  }

  /** The ONE DuckDB replay of the epoch-key chain behind the whole
    * shuffle/loader family (q191 schedule, q193 manifest, q195 resume)
    * — yields `p (epoch, doc_id, skey, shard)`. One definition so the
    * three oracles can never fork on a constant. */
  private[queries] def epochChainSql: String = {
    val ph = AnalyticsQueries.polyhashSql(
      "(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))")
    s"""e AS (SELECT unnest([0, 1, 2]) AS epoch),
      |h AS (SELECT e.epoch, d.doc_id, $ph AS ph
      |  FROM documents d CROSS JOIN e),
      |a1 AS (SELECT epoch, doc_id,
      |    (ph * 1103515245 + 12345) % 2147483648 AS a FROM h),
      |k AS (SELECT epoch, doc_id,
      |    (xor(a, a // 65536) * 69069 + 1) % 2147483648 AS skey FROM a1),
      |p AS (SELECT epoch, doc_id, skey,
      |    skey * $ShuffleShards // 2147483648 AS shard FROM k)""".stripMargin
  }

  val q193Sql: String =
    s"""WITH $epochChainSql
      |SELECT CAST(epoch AS INT) AS epoch, CAST(shard AS BIGINT) AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(MIN(skey) AS BIGINT) AS min_skey, CAST(MAX(skey) AS BIGINT) AS max_skey,
      |  CAST(bit_xor(doc_id) AS BIGINT) AS xor_doc,
      |  CAST(bit_xor(skey) AS BIGINT) AS xor_skey
      |FROM p GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin

  val q191Sql: String =
    s"""WITH $epochChainSql
      |SELECT CAST(epoch AS INT) AS epoch, CAST(shard AS BIGINT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY skey, doc_id) AS BIGINT) AS pos,
      |  doc_id, CAST(skey AS BIGINT) AS skey
      |FROM p ORDER BY epoch, shard, pos""".stripMargin

  /** The (epoch, shard) checkpoint q195 resumes from — epoch 1 (a
    * mid-run epoch), shard 3 (an arbitrary fixed shard); the position
    * is size-relative (the shard midpoint), so the query stays
    * meaningful at any scale factor. */
  private val ResumeEpoch = 1
  private val ResumeShard = 3L

  /** The loader artifacts on the versioned registry: the q191 schedule
    * and the q193 manifest, published together as ONE write-once
    * generation (they certify each other — shipping them separately
    * could pair a schedule with the wrong manifest) and handed back as
    * LOADED pinned scans. Corpus fingerprint: XOR of document ids, the
    * manifest discipline. */
  private val loaderRegistryCache = SessionArtifact[(DataFrame, DataFrame)]("loader_registry")

  private[queries] def sharedLoaderArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    loaderRegistryCache(s, dir) {
      val sched = q191EpochShuffle(s, dir)
      val man = q193ShardManifest(s, dir)
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val fp = Tables.load(s, dir, "documents")
        .agg(expr("bit_xor(doc_id)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "epoch_loader", fp,
        Seq("schedule" -> sched, "manifest" -> man))
      (reg.read(s, root, "epoch_loader", v, "schedule"),
        reg.read(s, root, "epoch_loader", v, "manifest"))
    }

  /** q195: mid-epoch RESUME from the persisted loader artifacts — the
    * query that turns the q193 manifest from write-only bookkeeping
    * into the loader contract it claims to be: both the schedule and
    * the manifest are read from the REGISTRY (no recompute on the
    * execution path), the shard about to be re-entered is re-folded
    * and certified against the manifest (count, key range, XOR
    * checksums, dense key-ordered positions —
    * [[graft.ext.EpochResume]]), and only then is the remainder of the
    * epoch emitted from the checkpoint (the shard midpoint, positions
    * strictly past it). A corrupted shard produces ZERO rows — resume
    * refuses, never fabricates (spec-pinned with a tampered manifest).
    * The oracle replays the schedule chain from the raw tables, so the
    * green hash additionally certifies both artifacts' storage round
    * trips. Scale shape: one-shard-bounded fold + rank window, one-row
    * certificate broadcast; nothing corpus-sized moves. */
  def q195EpochResume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (sched, man) = sharedLoaderArtifacts(s, dir)
    graft.ext.EpochResume.resume(sched, man, ResumeEpoch, ResumeShard)
      .orderBy($"pos")
  }

  val q195Sql: String =
    s"""WITH $epochChainSql,
      |sh AS (SELECT doc_id, skey FROM p
      |  WHERE epoch = $ResumeEpoch AND shard = $ResumeShard),
      |n AS (SELECT COUNT(*) AS n FROM sh),
      |r AS (SELECT doc_id, skey,
      |    ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS pos FROM sh)
      |SELECT CAST($ResumeEpoch AS INT) AS epoch,
      |  CAST($ResumeShard AS BIGINT) AS shard,
      |  CAST(n.n // 2 AS BIGINT) AS ckpt_pos, CAST(pos AS BIGINT) AS pos,
      |  doc_id, CAST(skey AS BIGINT) AS skey
      |FROM r CROSS JOIN n WHERE pos > n.n // 2 ORDER BY pos""".stripMargin

  /** q192: surprisal-staged curriculum schedule (Bengio et al. 2009's
    * baby-steps curriculum, materialized) — multi-epoch training that
    * starts on the best-modeled text and widens: epoch 0 schedules
    * only the head tercile of the q158 CCNet split, epoch 1 adds the
    * middle, epoch 2 the tail (docs the LM can't score — no bigrams —
    * never enter: a curriculum is defined by its difficulty signal).
    * Each epoch's admitted set then takes the q191 epoch shuffle
    * (full-range per-epoch avalanched key → high-bit shard →
    * within-shard position), so stages are reproducible, resumable,
    * and differently ordered per epoch — the loader consumes
    * (epoch, shard, pos) exactly as q191's. Composes the ONE tercile
    * recipe (shared with q189/q190's audits) with the ONE shuffle
    * key ([[graft.ext.Mixing.shuffleKey]]); oracle replays both
    * chains via the shared fragments.
    *
    * Scale shape: tercile assignment is the bounded-histogram walk
    * behind the session-cached surprisal table; admission is a
    * row-local comparison; the rest is q191's plan (row-local key,
    * one (epoch, shard) exchange, shard-bounded rank window). */
  def q192Curriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sens = graft.ext.SurprisalScore.ccnetBucketsFrom(
        MiningQueries.sharedSurprisal(s, dir),
        Tables.load(s, dir, "documents"), "doc_id", "lang")
      .select($"doc_id", $"bucket",
        when($"bucket" === "head", 0).when($"bucket" === "middle", 1)
          .otherwise(2).as("stage"))
    val w = Window.partitionBy($"epoch", $"shard").orderBy($"skey", $"doc_id")
    sens
      .select($"doc_id", $"bucket", $"stage",
        explode(array((0 until 3).map(lit): _*)).as("epoch"))
      .filter($"stage" <= $"epoch")
      .select($"epoch", $"doc_id", $"bucket",
        graft.ext.Mixing.shuffleKey($"epoch", $"doc_id").as("skey"))
      .withColumn("shard", shardOf)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"epoch", $"shard", $"pos", $"doc_id", $"bucket")
      .orderBy($"epoch", $"shard", $"pos")
  }

  val q192Sql: String = {
    val ph = AnalyticsQueries.polyhashSql(
      "(CAST(e.epoch AS VARCHAR) || ':' || CAST(sens.doc_id AS VARCHAR))")
    s"""WITH ${MiningQueries.ccnetSensCtesSql},
      |e AS (SELECT unnest([0, 1, 2]) AS epoch),
      |adm AS (SELECT e.epoch, sens.doc_id, sens.bucket, $ph AS ph
      |  FROM sens CROSS JOIN e
      |  WHERE (CASE sens.bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1
      |         ELSE 2 END) <= e.epoch),
      |a1 AS (SELECT epoch, doc_id, bucket,
      |    (ph * 1103515245 + 12345) % 2147483648 AS a FROM adm),
      |k AS (SELECT epoch, doc_id, bucket,
      |    (xor(a, a // 65536) * 69069 + 1) % 2147483648 AS skey FROM a1),
      |p AS (SELECT epoch, doc_id, bucket, skey,
      |    skey * $ShuffleShards // 2147483648 AS shard FROM k)
      |SELECT CAST(epoch AS INT) AS epoch, CAST(shard AS BIGINT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY skey, doc_id) AS BIGINT) AS pos,
      |  doc_id, bucket
      |FROM p ORDER BY epoch, shard, pos""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q192_curriculum" -> (q192Curriculum _),
    "q193_shard_manifest" -> (q193ShardManifest _),
    "q195_epoch_resume" -> (q195EpochResume _),
    "q191_epoch_shuffle" -> (q191EpochShuffle _),
    "q184_source_cap" -> (q184SourceCap _),
    "q144_dsir_mix" -> (q144DsirMix _),
    "q150_dsir_topk" -> (q150DsirTopk _),
    "q154_dsir_gumbel_topk" -> (q154DsirGumbelTopk _),
    "q72_curate" -> (q72Curate _),
    "q73_semdedup" -> (q73SemDedup _),
    "q97_pack_bins" -> (q97PackBins _),
    "q101_stratified_k" -> (q101StratifiedK _),
    "q63_bloom_prefilter" -> (q63BloomPrefilter _),
    "q64_sq8_quantize" -> (q64Sq8Quantize _),
    "q65_repetition_filter" -> (q65RepetitionFilter _),
    "q66_ivf_search" -> (q66IvfSearch _),
    "q67_token_shards" -> (q67TokenShards _),
    "q70_corpus_mix" -> (q70CorpusMix _),
    "q106_temperature_mix" -> (q106TemperatureMix _),
    "q187_k_anonymize" -> (q187KAnonymize _),
    "q189_l_diversity" -> (q189LDiversity _),
    "q190_t_closeness" -> (q190TCloseness _),
    "q71_decontaminate" -> (q71Decontaminate _))

  val oracle: Map[String, String] = Map(
    "q184_source_cap" -> q184Sql,
    "q144_dsir_mix" -> q144Sql,
    "q150_dsir_topk" -> q150Sql,
    "q154_dsir_gumbel_topk" -> q154Sql,
    "q72_curate" -> q72Sql,
    "q73_semdedup" -> q73Sql,
    "q97_pack_bins" -> q97Sql,
    "q101_stratified_k" -> q101Sql,
    "q63_bloom_prefilter" -> q63Sql,
    "q64_sq8_quantize" -> q64Sql,
    "q65_repetition_filter" -> q65Sql,
    "q66_ivf_search" -> q66Sql,
    "q67_token_shards" -> q67Sql,
    "q70_corpus_mix" -> q70Sql,
    "q71_decontaminate" -> q71Sql,
    "q106_temperature_mix" -> q106Sql,
    "q187_k_anonymize" -> q187Sql,
    "q189_l_diversity" -> q189Sql,
    "q190_t_closeness" -> q190Sql,
    "q191_epoch_shuffle" -> q191Sql,
    "q192_curriculum" -> q192Sql,
    "q193_shard_manifest" -> q193Sql,
    "q195_epoch_resume" -> q195Sql)
}
