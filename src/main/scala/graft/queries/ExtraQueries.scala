package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Similarity
import graft.functions.GraftFunctions
import graft.functions.TextFunctions._

/** Remaining named north-star operators as oracle-checked queries:
  * q30 BPE-ish token counting, q31 document fingerprinting (rolling
  * hash), q32 IVF cluster assignment. */
object ExtraQueries {

  /** q30: whitespace + boundary-split subword token estimate. */
  def q30TokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id",
        tokenCount($"text").as("ws_tokens"),
        subwordCountEstimate($"text").as("subword_tokens"))
      .orderBy($"doc_id")
  }

  val q30Sql: String =
    """WITH t0 AS (SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |    END AS ws FROM documents)
      |SELECT doc_id, ws AS ws_tokens,
      |  ws
      |    + CAST((length(text) - length(regexp_replace(text, '[a-z][A-Z]', '', 'g'))) // 2 AS BIGINT)
      |    + CAST((length(text) - length(regexp_replace(text, '[A-Za-z][0-9]', '', 'g'))) // 2 AS BIGINT)
      |    + CAST((length(text) - length(regexp_replace(text, '[0-9][A-Za-z]', '', 'g'))) // 2 AS BIGINT)
      |    AS subword_tokens
      |FROM t0 ORDER BY doc_id""".stripMargin

  /** q31: document fingerprint — rolling polynomial hash of the whole
    * text ([[graft.functions.PolyHash]], one codegen'd pass; the oracle
    * replays the fold as a DuckDB list_reduce). */
  def q31Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    docs.select($"doc_id", GraftFunctions.polyhash($"text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  val q31Sql: String =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(text)), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q32: IVF-flat cluster assignment with fixed seed centroids
    * (vec_id < 8) — the partition-pruning layout for ANN at scale. */
  def q32IvfAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.ivfAssign(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", nClusters = 8)
      .select($"id".as("vec_id"), $"cluster")
      .orderBy($"vec_id")
  }

  val q32Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |seeds AS (SELECT vec_id AS seed_id, e AS se, nrm AS snrm FROM n WHERE vec_id < 8),
      |scored AS (SELECT n.vec_id, seed_id,
      |  list_sum(list_transform(generate_series(1,64), i -> n.e[i]*se[i])) / (n.nrm*snrm) AS cos
      |  FROM n CROSS JOIN seeds),
      |ranked AS (SELECT vec_id, seed_id,
      |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn FROM scored)
      |SELECT vec_id, seed_id AS cluster FROM ranked WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  /** q33: the full BatchPipeline in GROUPED mode — conversation fold
    * inside the pipeline (group key → secondary-sort fold → stateful
    * enricher → assembly → order restore). Complements q14 (ungrouped
    * branch) and q15 (bare fold). Grouping is per customer: many small
    * conversations (the realistic shape — a handful of giant groups
    * makes any stateful fold quadratic in history and serializes
    * parallelism; measured 107s vs ~2s at sf0.1). */
  def q33PipelineGrouped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.enrich.ConversationalTestEnricher
    import graft.model._
    import graft.pipeline.BatchPipeline
    val cfg = PipelineConfig(
      ai = AiConfig.test(),
      mapping = MappingConfig(mainContent = "o_orderpriority", groupBy = Some("o_custkey")),
      prompt = PromptTemplate("Order {o_orderkey}"),
      output = OutputConfig(includePrompt = true, includeTimestamp = false))
    val (results, _, _) = BatchPipeline.run(
      Tables.load(s, dir, "orders"), cfg, ConversationalTestEnricher(),
      orderCols = Seq($"o_orderkey"))
    results
  }

  val q33Sql: String =
    """WITH base AS (
      |  SELECT *,
      |    'Order ' || CAST(o_orderkey AS VARCHAR) AS prompt,
      |    COALESCE(CAST(o_custkey AS VARCHAR), 'None') AS grp,
      |    CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS row_index
      |  FROM orders),
      |conv AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS turn,
      |    CAST(COALESCE(SUM(LENGTH(prompt)) OVER (PARTITION BY grp ORDER BY row_index
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ctx
      |  FROM base
      |  WINDOW w AS (PARTITION BY grp ORDER BY row_index))
      |SELECT grp AS "group", o_orderpriority AS main_content,
      |  o_custkey, o_orderdate, o_orderkey, o_orderpriority, o_orderstatus, o_totalprice,
      |  prompt,
      |  '[gpt-test] turn=' || CAST(turn AS VARCHAR) || ' ctx=' || CAST(ctx AS VARCHAR) AS response,
      |  row_index
      |FROM conv ORDER BY row_index""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_token_count" -> (q30TokenCount _),
    "q31_fingerprint" -> (q31Fingerprint _),
    "q32_ivf_assign" -> (q32IvfAssign _),
    "q33_pipeline_grouped" -> (q33PipelineGrouped _))

  val oracle: Map[String, String] = Map(
    "q30_token_count" -> q30Sql,
    "q31_fingerprint" -> q31Sql,
    "q32_ivf_assign" -> q32Sql,
    "q33_pipeline_grouped" -> q33Sql)
}
