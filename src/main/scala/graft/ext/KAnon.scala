package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-anonymity local recoding over release-metadata quasi-identifiers
  * (Sweeney 2002) — the privacy gate a published training-data
  * manifest passes before per-document metadata ships: a rare
  * (lang, source, length) combination pinpoints a document even with
  * the text withheld. Each document publishes the finest prefix of
  * the generalization ladder
  *   L0 (lang, source, len_bucket) → L1 (lang, source) →
  *   L2 (lang) → L3 (fully suppressed)
  * whose anonymity set clears k — where the anonymity set is the
  * equivalence class of the RELEASE, not a raw-corpus marginal.
  * Under local recoding the two differ: the (lang, source) marginal
  * counts every document of the pair, but the rows that actually
  * PUBLISH the pattern (lang, source, '*') are only those from
  * sub-k L0 cells (an attacker who knows the target's full
  * quasi-identifiers excludes every finer row whose retained
  * len_bucket disagrees). So the ladder gates on RESIDUAL masses:
  *   n0 = |L0 cell|;  r1 = Σ n0 over the pair's sub-k cells;
  *   r2 = Σ r1 over the language's sub-k pairs
  * — each exactly the size of the release class the row would join,
  * certified in `class_n`, so every published row is k-anonymous in
  * the release itself and `class_n = 0` marks the suppressed class.
  *
  * ONE recipe serves batch and stream: the residual tables are
  * bounded by attribute cardinality (langs × sources × buckets), so
  * they broadcast, and [[publish]] is three broadcast LEFT equi-joins
  * plus a row-local level decision — a corpus pass never shuffles in
  * batch, and the same plan runs stateless stream-static when a
  * stream of arrivals is passed to `publish(quasi(stream), ...)` (an
  * arrival whose
  * combination the frozen corpus never saw has anonymity set 0 at
  * that level — the left join's NULL → 0 is the correct verdict,
  * not a missing row).
  */
object KAnon {

  /** Minimum anonymity-set size a published pattern must certify. */
  val K = 5

  /** Width of the document-length quasi-identifier bucket (chars). */
  val BucketChars = 500L

  /** Project the quasi-identifier tuple (doc_id, lang, source,
    * len_bucket) from raw document rows. Row-local. */
  def quasi(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      expr(s"CAST(n_chars AS BIGINT) DIV $BucketChars").as("len_bucket"))

  /** The frozen release policy: the L0 cell counts plus the two
    * RESIDUAL-mass tables (see the object doc — sub-k mass per
    * (lang, source), then per lang). Bounded by attribute
    * cardinality — the broadcast-sized artifact a serving deployment
    * trains offline. */
  def marginals(q: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val c0 = q.groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n0"))
    val r1 = c0.filter(col("n0") < K)
      .groupBy(col("lang"), col("source")).agg(sum(col("n0")).as("r1"))
    val r2 = r1.filter(col("r1") < K)
      .groupBy(col("lang")).agg(sum(col("r1")).as("r2"))
    (c0, r1, r2)
  }

  /** Publish each quasi-identifier row at its finest k-safe ladder
    * level against the given (frozen) release policy: (doc_id,
    * g_lang, g_source, g_len, level, class_n). Left joins:
    * combinations the policy never saw count 0 and fall through the
    * ladder; a row with n0 ≥ k never consults r1/r2 (its class is
    * its own cell). */
  def publish(q: DataFrame, c0: DataFrame, r1: DataFrame, r2: DataFrame)
      : DataFrame =
    q.join(broadcast(c0), Seq("lang", "source", "len_bucket"), "left")
      .join(broadcast(r1), Seq("lang", "source"), "left")
      .join(broadcast(r2), Seq("lang"), "left")
      .withColumn("n0", coalesce(col("n0"), lit(0L)))
      .withColumn("r1", coalesce(col("r1"), lit(0L)))
      .withColumn("r2", coalesce(col("r2"), lit(0L)))
      .withColumn("level",
        when(col("n0") >= K, 0).when(col("r1") >= K, 1)
          .when(col("r2") >= K, 2).otherwise(3).cast("int"))
      .select(col("doc_id"),
        when(col("level") <= 2, col("lang")).otherwise(lit("*")).as("g_lang"),
        when(col("level") <= 1, col("source")).otherwise(lit("*")).as("g_source"),
        when(col("level") === 0, col("len_bucket").cast("string"))
          .otherwise(lit("*")).as("g_len"),
        col("level"),
        when(col("level") === 0, col("n0")).when(col("level") === 1, col("r1"))
          .when(col("level") === 2, col("r2")).otherwise(lit(0L)).as("class_n"))
}
