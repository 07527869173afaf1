package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.AiConfig

/** Batch pause→resume for the enrichment pipeline — the reference's
  * mid-job pause (`/root/reference/main.py:631-638`) re-expressed as a
  * durable checkpoint: on stop, the results completed so far persist
  * as ONE registry generation (parts `results` + `cursor`), and a
  * later process resumes from the PERSISTED artifacts alone — no
  * driver state survives in between, which is the only pause a
  * multi-tenant cluster can honor (the paused job's executors are
  * gone; "resume" is a new job trusting only storage).
  *
  * The cursor part is the certificate (the q195 epoch-resume
  * discipline applied to enrichment): row count, max row_index, XOR of
  * row_index, and XOR of per-row `xxhash64(row_index, response)` —
  * the PAIR hash, not the response hash alone, because two swapped
  * responses preserve every order-independent stat of the responses
  * themselves (the exact blind spot q195's position check closed).
  * Resume re-folds the loaded results and inner-joins the fold against
  * the loaded cursor on every stat, additionally requiring the results
  * to be the COMPLETE prefix below the cursor (n = pos, max = pos−1):
  * any tamper, truncation, or swap yields an empty verdict and the
  * resume emits ZERO rows — refuse, never fabricate.
  */
object EnrichCheckpoint {

  /** The certificate fold over a results frame carrying
    * (`row_index`, `response`): one row of order-independent stats
    * plus the pair-binding XOR. Empty results fold to the identity
    * row (n=0, max=−1, xors=0). */
  def certificate(results: DataFrame): DataFrame =
    results.agg(
      count(lit(1)).as("ck_n"),
      coalesce(max(col("row_index")), lit(-1L)).as("ck_max_idx"),
      coalesce(expr("bit_xor(row_index)"), lit(0L)).as("ck_xor_idx"),
      coalesce(expr("bit_xor(xxhash64(row_index, response))"), lit(0L))
        .as("ck_xor_pair"))

  /** Persist the pause: results-so-far plus their certificate (with
    * the cursor position) as one write-once registry generation.
    * Returns the published version. `corpus_fp` records the cursor
    * position — the generation's identity for the manifest audit.
    *
    * The certificate is computed from the LANDED results part (a
    * staged publish), never from re-executing the `results` plan: a
    * live enrichment plan is nondeterministic at pause time (the
    * external API answers differently per call), so a plan-recomputed
    * certificate would both double the API calls and bind responses
    * that never landed — and `resumeVerified` would then refuse every
    * healthy checkpoint. Spec-pinned in EnrichSpec with a
    * deliberately nondeterministic enricher. */
  def publish(s: SparkSession, root: String, kind: String,
      results: DataFrame, cursorPos: Long): Long =
    graft.ext.ArtifactRegistry.publishStaged(s, root, kind, cursorPos,
      Seq("results" -> results),
      landed => Seq("cursor" ->
        certificate(landed("results")).withColumn("cursor_pos", lit(cursorPos))))

  /** The most recent resume's cached frames, per session — unpersisted
    * when the NEXT resume in that session lands, so a long-lived
    * session running many resumes holds one resume's caches at a time
    * instead of accumulating partitions forever. Stopped sessions are
    * purged on access (their storage died with the context). Resumes
    * are serial per session by the same single-operator contract as
    * [[graft.ext.ArtifactRegistry.publish]]. */
  private val lastResumed =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Seq[DataFrame]]()

  /** Register a resume's cached frames (the resumed frame, plus the
    * prior results a row-wise resume caches), unpersisting the
    * previous resume's for the same session (shared by the row-wise
    * and grouped resume paths). */
  private[enrich] def trackResumedCache(s: SparkSession, cached: DataFrame*): Unit = {
    val it = lastResumed.keySet.iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    Option(lastResumed.put(s, cached))
      .foreach(_.foreach(_.unpersist(blocking = false)))
  }

  /** Resume from loaded artifacts with verification: re-fold the
    * loaded results, join the fold against the loaded cursor on EVERY
    * stat plus the complete-prefix requirement. Verification is EAGER
    * — the ≤1-row verdict is collected before the resumed union is
    * built, so a corrupted checkpoint returns an empty frame whose
    * plan contains no enrichment at all (zero fresh API calls against
    * a refused checkpoint — the
    * [[graft.streaming.Streaming.conversationStreamResumed]]
    * posture). A valid checkpoint yields `resumeEnrichment`'s union
    * (prior rows verbatim, only the remainder enriched) with
    * `cursor_pos` and `n_prior` riding every row. */
  def resumeVerified(
      indexed: DataFrame,
      loadedResults: DataFrame,
      loadedCursor: DataFrame,
      promptCol: String,
      enricher: Enricher,
      config: AiConfig,
      metrics: Option[EnrichMetrics] = None): DataFrame = {
    val verdictRows = loadedCursor.join(certificate(loadedResults),
        Seq("ck_n", "ck_max_idx", "ck_xor_idx", "ck_xor_pair"))
      .filter(col("ck_n") === col("cursor_pos") &&
        col("ck_max_idx") === col("cursor_pos") - 1)
      .select(col("cursor_pos"), col("ck_n").as("n_prior"))
      .collect()
    val resumedPlan = EnrichRunner.resumeEnrichment(
      indexed, loadedResults, promptCol, enricher, config, metrics)
    if (verdictRows.isEmpty) {
      loadedResults.unpersist(blocking = false) // refused: nothing reads the prior
      resumedPlan.limit(0)
        .withColumn("cursor_pos", lit(null).cast("long"))
        .withColumn("n_prior", lit(null).cast("long"))
    } else {
      // cache: callers sort the resumed frame (order restore), and a
      // sort's range-sampling pass would otherwise run the fresh
      // enrichment a second time — 2× external API calls at scale (the
      // BatchPipeline.run discipline, pipeline/BatchPipeline.scala:68)
      val resumed = resumedPlan.cache()
      trackResumedCache(indexed.sparkSession, resumed, loadedResults)
      resumed.withColumn("cursor_pos", lit(verdictRows(0).getLong(0)))
        .withColumn("n_prior", lit(verdictRows(0).getLong(1)))
    }
  }
}
