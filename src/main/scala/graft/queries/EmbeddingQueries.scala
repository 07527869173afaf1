package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Similarity

/** Similarity-search queries over `embeddings` (q22-q24). The oracle
  * mirrors the exact double arithmetic: vectors cast float→double,
  * sequential-order dot products, division by precomputed norms.
  */
object EmbeddingQueries {

  /** q22: exact cosine top-10 for query vectors vec_id < 10. */
  def q22CosineTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", k = 10)
      .orderBy($"query_id", $"rank")
  }

  val q22Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |q AS (SELECT * FROM n WHERE vec_id < 10),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  list_sum(list_transform(generate_series(1,64), i -> q.e[i]*c.e[i])) / (q.nrm*c.nrm) AS cos
      |  FROM q JOIN n c ON c.vec_id != q.vec_id),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM p)
      |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** q23: random-hyperplane LSH bucket assignment (the ANN pre-filter).
    * Projection components come from a shared LCG formula. */
  def q23LshBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.withBuckets(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
      .select($"id".as("vec_id"), $"bucket")
      .orderBy($"vec_id")
  }

  val q23Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |b AS (SELECT vec_id,
      |  list_sum(list_transform(generate_series(0,15), p ->
      |    CASE WHEN list_sum(list_transform(generate_series(1,64), d ->
      |      e[d] * (CAST((1103515245 * (p*64 + d) + 12345) % 2147483648 AS DOUBLE)/2147483648.0 - 0.5)
      |    )) > 0.0 THEN 1 << p ELSE 0 END)) AS bucket
      |  FROM v)
      |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket FROM b ORDER BY vec_id""".stripMargin

  /** q24: exact embedding near-dup pairs (cos ≥ 0.45) — EXACT, not
    * LSH-blocked (at this loose threshold no sign/band scheme is both
    * complete and selective; see [[Similarity.blockedNearDupPairs]]),
    * but planned as the balanced block-pair EQUI-join rather than the
    * broadcast nested-loop all-pairs join: the quadratic scoring work
    * spreads evenly over the group-pair keys with O(√P) replication
    * and nothing data-sized broadcast. The brute-force oracle proves
    * the block layout loses no pair; the approximate scale twins for
    * genuinely near-dup thresholds remain q68/q73. */
  def q24EmbNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.blockedNearDupPairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", minCos = 0.45)
      .orderBy($"id_a", $"id_b")
  }

  val q24Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_sum(list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])) / (a.nrm*b.nrm) AS cos
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin

  /** q68: multi-table LSH approximate top-k — 4 hash tables of 8
    * hyperplane signs each; candidates collide in ANY table, then exact
    * cosine + rank. The oracle replays the LCG hyperplanes per table
    * (same formula as q23, plane index t*8+i). */
  def q68LshTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.approxTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        queryPred = col("id") < 10, k = 10, tables = 4, bitsPerTable = 8)
      .orderBy($"query_id", $"rank")
  }

  val q68Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |tb AS (SELECT vec_id, t,
      |  list_sum(list_transform(generate_series(0,7), i ->
      |    CASE WHEN list_sum(list_transform(generate_series(1,64), d ->
      |      e[d] * (CAST((1103515245 * ((t*8 + i)*64 + d) + 12345) % 2147483648 AS DOUBLE)/2147483648.0 - 0.5)
      |    )) > 0.0 THEN 1 << i ELSE 0 END)) AS bv
      |  FROM n CROSS JOIN UNNEST([0,1,2,3]) AS tt(t)),
      |q AS (SELECT * FROM tb WHERE vec_id < 10),
      |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |  FROM q JOIN tb c ON c.t = q.t AND c.bv = q.bv AND c.vec_id != q.vec_id),
      |sc AS (SELECT cand.query_id, cand.neighbor_id,
      |  list_sum(list_transform(generate_series(1,64), i -> a.e[i]*b.e[i])) / (a.nrm*b.nrm) AS cos
      |  FROM cand JOIN n a ON cand.query_id = a.vec_id JOIN n b ON cand.neighbor_id = b.vec_id),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM sc)
      |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Shared oracle chain: feature-hashed 16-dim embeddings of `textCol`
    * rows in `src`, keyed by `keys` ([[graft.functions.HashUtil
    * .hashEmbed]]). `th` replays the per-token 31-bit polyhash (q31's
    * list_reduce recipe), `emb` the ±1 bit-sign accumulation per
    * dimension. ONE definition — q93/q94/q95 instantiate it over
    * documents, q100 over chunks — so the hash recipe cannot drift
    * between gates. */
  private[queries] def embedChain(src: String, keys: String, textCol: String): String =
    s"""toks AS (SELECT $keys, unnest(string_split_regex(trim($textCol), '\\s+')) AS tok
      |  FROM $src WHERE length(trim($textCol)) > 0),
      |th AS (SELECT $keys, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(tok)), i -> CAST(unicode(substr(tok, i, 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 2147483648) AS h FROM toks),
      |emb AS (SELECT $keys, d,
      |    CAST(SUM(CASE WHEN (h >> d) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
      |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS d) dims
      |  GROUP BY $keys, d)""".stripMargin

  private val embedChainSql: String = embedChain("documents", "doc_id", "text")

  /** q93: model-free text embeddings — the hashing-trick signed
    * projection as a native expression, one codegen'd pass per doc, no
    * shuffle for the embedding itself (the explode to long format is
    * presentation). This closes the raw-text → vector gap: its output
    * feeds every cosine/LSH/IVF operator without an external model. */
  def q93TextEmbed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id",
        posexplode(graft.functions.GraftFunctions.hashEmbed($"text", 16)))
      .select($"doc_id", $"pos".cast("long").as("dim"), $"col".as("v"))
      .orderBy($"doc_id", $"dim")
  }

  val q93Sql: String =
    s"""WITH $embedChainSql
      |SELECT doc_id, CAST(d AS BIGINT) AS dim, v FROM emb
      |ORDER BY doc_id, dim""".stripMargin

  /** q94: end-to-end text ANN — embed every document with the hashing
    * trick, then exact cosine top-3 for the first 5 docs over the
    * integer vectors (cast to double; [[Similarity.bruteForceTopK]]'s
    * broadcast-queries/stream-candidates shape). Zero-norm vectors are
    * excluded on both sides (cos would be NULL/NaN). */
  def q94TextAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id",
        graft.functions.GraftFunctions.hashEmbed($"text", 16).as("e"))
      .filter(Similarity.dot(Similarity.vecD($"e"), Similarity.vecD($"e")) > 0.0)
    Similarity.bruteForceTopK(emb, emb.filter($"doc_id" < 5), "doc_id", "e", k = 3)
      .orderBy($"query_id", $"rank")
  }

  val q94Sql: String =
    s"""WITH $embedChainSql,
      |vec AS (SELECT doc_id, list(CAST(v AS DOUBLE) ORDER BY d) AS e FROM emb
      |  GROUP BY doc_id),
      |n AS (SELECT doc_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm
      |  FROM vec WHERE list_sum(list_transform(e, x -> x*x)) > 0.0),
      |q AS (SELECT * FROM n WHERE doc_id < 5),
      |p AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
      |  list_sum(list_transform(generate_series(1, 16), i -> q.e[i]*c.e[i])) / (q.nrm*c.nrm) AS cos
      |  FROM q JOIN n c ON c.doc_id != q.doc_id),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER
      |  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM p)
      |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** q95: the SCALE path for raw-text ANN — the same hashing-trick
    * embeddings bucketed by sign bands ([[Similarity.signBandTopK]]):
    * candidates meet in a broadcast equi-join on (band, bucket) instead
    * of q94's scan-everything broadcast join. Precision is exact (every
    * emitted neighbor passed the true cosine); recall is the band
    * collision probability, spec-measured vs q94. */
  def q95TextAnnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id",
        graft.functions.GraftFunctions.hashEmbed($"text", 16).as("e"))
    Similarity.signBandTopK(emb, "doc_id", "e", col("id") < 5, k = 3)
      .orderBy($"query_id", $"rank")
  }

  val q95Sql: String =
    s"""WITH $embedChainSql,
      |vec AS (SELECT doc_id, list(CAST(v AS DOUBLE) ORDER BY d) AS e,
      |    list(v ORDER BY d) AS raw FROM emb GROUP BY doc_id),
      |n AS (SELECT doc_id, e, raw, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm
      |  FROM vec WHERE list_sum(list_transform(e, x -> x*x)) > 0.0),
      |bb AS (SELECT doc_id, b, CAST(list_sum(list_transform(generate_series(0, 7), i ->
      |      CASE WHEN raw[b*8 + i + 1] > 0 THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS bv
      |  FROM n CROSS JOIN (SELECT unnest([0, 1]) AS b) bands),
      |q AS (SELECT * FROM bb WHERE doc_id < 5),
      |cand AS (SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS neighbor_id
      |  FROM q JOIN bb c ON c.b = q.b AND c.bv = q.bv AND c.doc_id != q.doc_id),
      |p AS (SELECT cand.query_id, cand.neighbor_id,
      |    list_sum(list_transform(generate_series(1, 16), i -> a.e[i]*c.e[i])) / (a.nrm*c.nrm) AS cos
      |  FROM cand JOIN n a ON cand.query_id = a.doc_id JOIN n c ON cand.neighbor_id = c.doc_id),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER
      |  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM p)
      |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_cosine_topk" -> (q22CosineTopK _),
    "q23_lsh_buckets" -> (q23LshBuckets _),
    "q24_emb_neardup" -> (q24EmbNearDup _),
    "q68_lsh_topk" -> (q68LshTopK _),
    "q93_text_embed" -> (q93TextEmbed _),
    "q94_text_ann" -> (q94TextAnn _),
    "q95_text_ann_lsh" -> (q95TextAnnLsh _))

  val oracle: Map[String, String] = Map(
    "q22_cosine_topk" -> q22Sql,
    "q23_lsh_buckets" -> q23Sql,
    "q24_emb_neardup" -> q24Sql,
    "q68_lsh_topk" -> q68Sql,
    "q93_text_embed" -> q93Sql,
    "q94_text_ann" -> q94Sql,
    "q95_text_ann_lsh" -> q95Sql)
}
