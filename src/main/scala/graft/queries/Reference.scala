package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.enrich.{ConversationalTestEnricher, DeterministicEnricher, EnrichRunner}
import graft.model._
import graft.operators.CoreOps
import graft.pipeline.BatchPipeline

/** The reference engine's own pipeline semantics (SURVEY.md §2.2/2.7/2.9)
  * as oracle-checked queries: template expansion F1, group-key F2,
  * sanitization F3, row indexing W1 + order restore W2, result assembly
  * E6, the parallel enrichment map E2 (deterministic test enricher), and
  * the grouped conversation fold A3/E5/E7.
  */
object Reference {

  /** q10: F1 template expansion — placeholder substitution, null →
    * "None" (Python str(None)), unknown placeholders survive verbatim,
    * doubles templated via exact decimal render. Pure codegen'd
    * expression chain; no shuffle. */
  def q10Template(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tpl = "Summarize order {o_orderkey} (priority {prio}) for customer {o_custkey}: " +
      "total {total_str}. Keep {unknown_col} verbatim."
    val o = Tables.load(s, dir, "orders")
      .withColumn("prio", nullif($"o_orderpriority", lit("3-MEDIUM")))
      .withColumn("total_str", $"o_totalprice".cast(DecimalType(12, 2)).cast("string"))
    o.select($"o_orderkey", CoreOps.expandTemplate(tpl, o.columns.toSeq).as("prompt"))
      .orderBy($"o_orderkey")
  }

  val q10Sql: String =
    """SELECT o_orderkey,
      |  replace(replace(replace(replace(
      |    'Summarize order {o_orderkey} (priority {prio}) for customer {o_custkey}: total {total_str}. Keep {unknown_col} verbatim.',
      |    '{o_orderkey}', CAST(o_orderkey AS VARCHAR)),
      |    '{prio}', COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'None')),
      |    '{o_custkey}', CAST(o_custkey AS VARCHAR)),
      |    '{total_str}', CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)) AS prompt
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q11: F2 group-key semantics — present-null → "None", absent column
    * → "unknown" — driving a hash aggregation. */
  def q11GroupKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.load(s, dir, "orders")
      .withColumn("grp_src", nullif($"o_orderpriority", lit("3-MEDIUM")))
    o.groupBy(
        CoreOps.groupKey(o, Some("grp_src")).as("grp"),
        CoreOps.groupKey(o, Some("no_such_column")).as("grp_missing"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"grp")
  }

  val q11Sql: String =
    """SELECT COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'None') AS grp,
      |  'unknown' AS grp_missing, COUNT(*) AS n
      |FROM orders GROUP BY 1, 2 ORDER BY grp""".stripMargin

  /** q12: F3 sanitization of a dirty composite name. */
  def q12Sanitize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "part")
      .select($"p_partkey",
        CoreOps.sanitizeName(concat($"p_name", lit("/"), $"p_brand", lit("#"), $"p_type"))
          .as("safe_name"))
      .orderBy($"p_partkey")
  }

  val q12Sql: String =
    """SELECT p_partkey,
      |  CASE WHEN TRIM(regexp_replace(p_name || '/' || p_brand || '#' || p_type,
      |    '[^A-Za-z0-9 _-]', '', 'g')) = '' THEN 'unknown'
      |  ELSE TRIM(regexp_replace(p_name || '/' || p_brand || '#' || p_type,
      |    '[^A-Za-z0-9 _-]', '', 'g')) END AS safe_name
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q13: W1 deterministic row index + W2 order restore. */
  def q13RowIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem").select($"l_orderkey", $"l_linenumber")
    CoreOps.restoreOrder(
      CoreOps.withRowIndexByOrder(li, "row_index", $"l_orderkey", $"l_linenumber"))
  }

  val q13Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS BIGINT) AS row_index
      |FROM lineitem ORDER BY row_index""".stripMargin

  /** q14: the flagship — full BatchPipeline (EP2, main.py:308-357) in
    * ungrouped mode: index → row_{i} groups → template → deterministic
    * enrichment via mapPartitions → assembly → order restore. The
    * enrichment itself runs through the real EnrichRunner/ RetryPolicy
    * machinery; its deterministic semantics make the whole pipeline
    * SQL-expressible for the oracle. */
  def q14Pipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cfg = PipelineConfig(
      ai = AiConfig.test(),
      mapping = MappingConfig(mainContent = "o_orderpriority", groupBy = None),
      prompt = PromptTemplate("Order {o_orderkey} priority {o_orderpriority}"),
      output = OutputConfig(includePrompt = true, includeTimestamp = false))
    val (results, _, _) = BatchPipeline.run(
      Tables.load(s, dir, "orders"), cfg, DeterministicEnricher(),
      orderCols = Seq($"o_orderkey"))
    results
  }

  val q14Sql: String =
    """WITH base AS (
      |  SELECT *,
      |    replace(replace('Order {o_orderkey} priority {o_orderpriority}',
      |      '{o_orderkey}', CAST(o_orderkey AS VARCHAR)),
      |      '{o_orderpriority}', o_orderpriority) AS prompt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS row_index
      |  FROM orders)
      |SELECT 'row_' || CAST(row_index AS VARCHAR) AS "group",
      |  o_orderpriority AS main_content,
      |  o_custkey, o_orderdate, o_orderkey, o_orderpriority, o_orderstatus, o_totalprice,
      |  prompt,
      |  '[gpt-test] ' || upper(substr(prompt, 1, 64)) AS response,
      |  row_index
      |FROM base ORDER BY row_index""".stripMargin

  /** q15: A3/E5/E7 grouped conversation fold — parallel across customer
    * groups, strictly ordered within, history threaded through a
    * secondary-sort streaming fold (no per-group materialization). The
    * stateful test enricher surfaces turn number and accumulated context
    * chars, which the oracle reproduces with window functions. */
  def q15ConversationFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.load(s, dir, "orders")
      .withColumn("prompt", concat(lit("Summarize order "), $"o_orderkey".cast("string")))
    EnrichRunner.runConversations(o, "o_custkey", Seq("o_orderdate", "o_orderkey"),
        "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"o_custkey", $"o_orderkey", $"turn_number", $"history_chars", $"response")
      .orderBy($"o_custkey", $"turn_number")
  }

  val q15Sql: String =
    """WITH base AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS turn_number,
      |    CAST(COALESCE(SUM(LENGTH('Summarize order ' || CAST(o_orderkey AS VARCHAR)))
      |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS history_chars
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
      |SELECT o_custkey, o_orderkey, turn_number, history_chars,
      |  '[gpt-test] turn=' || CAST(turn_number AS VARCHAR) ||
      |    ' ctx=' || CAST(history_chars AS VARCHAR) AS response
      |FROM base ORDER BY o_custkey, turn_number""".stripMargin

  /** The indexed enrichment input the pause/resume pair shares: one
    * prompt per order, deterministically indexed by order key (the W1
    * distributed index, no single-partition window). */
  private def enrichResumeInput(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    CoreOps.withRowIndexByOrder(
      Tables.load(s, dir, "orders")
        .select($"o_orderkey",
          concat(lit("Order "), $"o_orderkey".cast("string")).as("prompt")),
      "row_index", $"o_orderkey")
  }

  /** The persisted pause: the first half of the run (row_index below
    * the midpoint cursor — size-relative, meaningful at any scale)
    * enriched and published WITH its certificate as one registry
    * generation, once per (session, dir). What a real stop leaves on
    * storage; q198 resumes from nothing else. */
  private val enrichCkptCache = SessionArtifact[(DataFrame, DataFrame, Long)]("enrich_ckpt")

  private[queries] def sharedEnrichCheckpoint(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long) =
    enrichCkptCache(s, dir) {
      import graft.enrich.EnrichCheckpoint
      val indexed = enrichResumeInput(s, dir)
      val pos = indexed.count() / 2
      val pre = EnrichRunner.mapWithResponse(
        indexed.filter(col("row_index") < pos), "prompt",
        DeterministicEnricher(), AiConfig.test()).drop("error")
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val v = EnrichCheckpoint.publish(s, root, "enrich_ckpt", pre, pos)
      (reg.read(s, root, "enrich_ckpt", v, "results"),
        reg.read(s, root, "enrich_ckpt", v, "cursor"), pos)
    }

  /** q198: batch pause→resume PARITY for enrichment — the last
    * behavioral delta vs the reference's mid-job pause
    * (`main.py:631-638`), closed the durable way: the resume trusts
    * ONLY the loaded artifacts (results + cursor certificate), refuses
    * a corrupted checkpoint with zero rows (the q195 discipline — see
    * [[graft.enrich.EnrichCheckpoint]]), reuses every verified prior
    * row VERBATIM, and enriches only the remainder. The oracle replays
    * the whole UNINTERRUPTED run from the raw table, so the green hash
    * certifies resumed ∪ pre-stop ≡ uninterrupted, bit-exact — pause
    * was free. Scale shape: the verification is one KB-sized fold +
    * broadcast verdict; the anti-join inside `resumeEnrichment` is the
    * only data-sized exchange. */
  def q198EnrichResume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (results, cursor, _) = sharedEnrichCheckpoint(s, dir)
    graft.enrich.EnrichCheckpoint.resumeVerified(
        enrichResumeInput(s, dir), results, cursor, "prompt",
        DeterministicEnricher(), AiConfig.test())
      .select($"cursor_pos", $"n_prior", $"row_index", $"o_orderkey", $"response")
      .orderBy($"row_index")
  }

  val q198Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey,
      |    'Order ' || CAST(o_orderkey AS VARCHAR) AS prompt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS row_index
      |  FROM orders),
      |n AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS pos FROM base)
      |SELECT n.pos AS cursor_pos, n.pos AS n_prior,
      |  row_index, o_orderkey,
      |  '[gpt-test] ' || upper(substr(prompt, 1, 64)) AS response
      |FROM base CROSS JOIN n ORDER BY row_index""".stripMargin

  /** The grouped conversation input the mid-group pause/resume pair
    * shares — q15's shape: one prompt per order, conversations keyed
    * by customer, ordered by (date, key). */
  private def convResumeInput(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "orders")
      .withColumn("prompt", concat(lit("Summarize order "), $"o_orderkey".cast("string")))
  }

  /** The persisted MID-GROUP pause: every conversation's first 2 turns
    * enriched (the fold actually runs — histories are real) and
    * published with the grouped certificate as one registry
    * generation, once per (session, dir). What a stop after each
    * group's second turn leaves on storage; q201 resumes from nothing
    * else. */
  private val convCkptCache = SessionArtifact[(DataFrame, DataFrame)]("conv_ckpt")

  private[queries] def sharedConvCheckpoint(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    convCkptCache(s, dir) {
      import graft.enrich.ConversationCheckpoint
      val input = convResumeInput(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val prefix = input.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 2).drop("__rn")
      val pre = EnrichRunner.runConversations(prefix, "o_custkey",
          Seq("o_orderdate", "o_orderkey"), "prompt",
          ConversationalTestEnricher(), AiConfig.test())
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("prompt"), col("turn_number"), col("response"))
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val v = ConversationCheckpoint.publish(s, root, "conv_ckpt", pre,
        "o_custkey", "prompt", cursorTurn = 2L)
      (reg.read(s, root, "conv_ckpt", v, "results"),
        reg.read(s, root, "conv_ckpt", v, "cursor"))
    }

  /** q201: MID-GROUP pause→resume PARITY for grouped conversations —
    * the grouped twin of q198 and the reference's actual pause point
    * (`main.py:388-392` fires inside `process_single_item`, reached
    * from the sequential grouped branch at `main.py:508-512`). The
    * resume trusts ONLY the loaded artifacts, verifies the grouped
    * certificate (untampered pairs, complete 1..k prefix per group,
    * exact (group, turn, prompt) alignment with today's input — see
    * [[graft.enrich.ConversationCheckpoint]]), replays the completed
    * turns verbatim, restores each conversation's message history from
    * (today's prompts × checkpointed responses), and enriches only the
    * remaining turns. The oracle replays the whole UNINTERRUPTED
    * conversation run from the raw table, so the green hash certifies
    * resumed ≡ uninterrupted bit-exact — the mid-group pause was free.
    * Scale shape: verification is two KB-output aggregation passes +
    * one broadcast verdict; the replay join and the group repartition
    * are the only data-sized exchanges. */
  def q201ConversationResume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (results, cursor) = sharedConvCheckpoint(s, dir)
    graft.enrich.ConversationCheckpoint.resumeVerified(
        convResumeInput(s, dir), "o_custkey", Seq("o_orderdate", "o_orderkey"),
        "prompt", results, cursor, ConversationalTestEnricher(), AiConfig.test())
      .select($"cursor_turn", $"n_prior", $"o_custkey", $"o_orderkey",
        $"turn_number", $"history_chars", $"response")
      .orderBy($"o_custkey", $"turn_number")
  }

  val q201Sql: String =
    """WITH base AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS turn_number,
      |    CAST(COALESCE(SUM(LENGTH('Summarize order ' || CAST(o_orderkey AS VARCHAR)))
      |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS history_chars
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_prior FROM base WHERE turn_number <= 2)
      |SELECT CAST(2 AS BIGINT) AS cursor_turn, n.n_prior,
      |  o_custkey, o_orderkey, turn_number, history_chars,
      |  '[gpt-test] turn=' || CAST(turn_number AS VARCHAR) ||
      |    ' ctx=' || CAST(history_chars AS VARCHAR) AS response
      |FROM base CROSS JOIN n ORDER BY o_custkey, turn_number""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q10_template" -> (q10Template _),
    "q11_group_key" -> (q11GroupKey _),
    "q12_sanitize" -> (q12Sanitize _),
    "q13_row_index" -> (q13RowIndex _),
    "q14_pipeline" -> (q14Pipeline _),
    "q15_conversation_fold" -> (q15ConversationFold _),
    "q198_enrich_resume" -> (q198EnrichResume _),
    "q201_conversation_resume" -> (q201ConversationResume _))

  val oracle: Map[String, String] = Map(
    "q10_template" -> q10Sql,
    "q11_group_key" -> q11Sql,
    "q12_sanitize" -> q12Sql,
    "q13_row_index" -> q13Sql,
    "q14_pipeline" -> q14Sql,
    "q15_conversation_fold" -> q15Sql,
    "q198_enrich_resume" -> q198Sql,
    "q201_conversation_resume" -> q201Sql)
}
