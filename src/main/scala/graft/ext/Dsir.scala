package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.TextFunctions.tokens

/** DSIR-style importance-weighted data selection (Xie et al., "Data
  * Selection for Language Models via Importance Resampling", NeurIPS
  * 2023): score every document by how much more likely its hashed
  * token features are under a TARGET slice's distribution than under
  * the whole corpus's, then keep rows at a rate proportional to that
  * score through the replayable avalanched-hash decision the rest of
  * the mixing family uses ([[Mixing]]). This is the per-DOCUMENT
  * selection primitive the stratum-rate family (q70 fixed rates, q106
  * temperature, q101 exact-k) lacks: strata say "keep 40% of en",
  * importance weights say "keep the documents that LOOK like the
  * target slice, wherever they are".
  *
  * Integer discipline: the bucket likelihood ratio is computed in
  * parts-per-million with a DECIMAL(38,0) numerator (exact to 10^38 —
  * survives 10^12-token corpora; the q118 BM25 discipline) and
  * truncating DIV, and the per-document score is the exact integer sum
  * of CENTERED ratios Σ(lift_ppm − 10^6) — the first-order (log x ≈
  * x−1) proxy for DSIR's log-likelihood-ratio sum that keeps every
  * intermediate an integer any engine reproduces bit-for-bit. Add-one
  * smoothing on bucket counts keeps ratios finite for buckets the
  * target never hits.
  *
  * Scale shape: ONE corpus-sized token projection feeds (a) a
  * 64-bucket aggregate computing target and corpus counts in the same
  * pass (the target is a subset of the corpus, so a conditional count
  * suffices — no second scan), and (b) the per-document score
  * aggregation, which joins the broadcast 64-row lift table and
  * shuffles only (id, strata, partial sum) with map-side combine.
  * Nothing vocabulary- or corpus-sized is ever collected or broadcast.
  */
object Dsir {

  /** Hashed-feature bucket count. 64 is plenty for the gate corpus's
    * vocabulary; production corpora would raise it (DSIR uses 10^4) —
    * the plan shape is bucket-count-independent until the lift table
    * stops being broadcastable (~10^8 buckets). */
  val Buckets = 64

  /** One million — the fixed-point scale of the likelihood ratio. */
  val ScalePpm = 1000000L

  /** Per-document centered importance scores. Documents whose trimmed
    * text is empty carry no evidence and are excluded (they would have
    * an undefined average anyway); `carryCols` ride along for
    * downstream grouping. Output: (id, carryCols…, n_toks, score)
    * where score = Σ_tokens (lift_ppm(bucket(token)) − 10^6).
    *
    * `targetPred` must be evaluable on the document row (it selects
    * the target SLICE whose token distribution defines "looks like
    * the target"). */
  def importanceScores(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, carryCols: Seq[String] = Seq.empty): DataFrame = {
    val tb = tokenBuckets(docs, idCol, textCol, targetPred, carryCols)
    val lift = liftFrom(bucketStats(tb))
    tb.join(broadcast(lift), "b")
      .groupBy(col(idCol) +: carryCols.map(col): _*)
      .agg(count(lit(1)).as("n_toks"),
        sum(col("lift_ppm") - lit(ScalePpm)).as("score"))
  }

  /** The trained weights as a COLLECTABLE artifact: per-bucket lift in
    * ppm, index = bucket. Buckets the training corpus never produced
    * get the all-smoothing value ((nc+B)·10⁶ DIV (nt+B), i.e. the
    * n_c = n_t = 0 cell) — a live STREAM can hash unseen tokens into
    * them, and the offline join-based scorer must agree with the
    * online row-local one on every bucket. This is what "train DSIR
    * offline, apply on the crawl stream" ships to the stream job. */
  def liftArray(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column): Array[Long] = {
    val stats = bucketStats(tokenBuckets(docs, idCol, textCol, targetPred, Seq.empty))
    val Array(ncTot, ntTot) = stats
      .agg(sum(col("n_c")), sum(col("n_t"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val default = ((BigInt(ncTot) + Buckets) * ScalePpm / (BigInt(ntTot) + Buckets)).toLong
    val arr = Array.fill(Buckets)(default)
    liftFrom(stats).collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** One corpus-sized pass: (id, carry…, is_target, bucket) per token. */
  private def tokenBuckets(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, carryCols: Seq[String]): DataFrame = {
    docs.filter(trim(col(textCol)) =!= "")
      .select(col(idCol) +: carryCols.map(col) :+ targetPred.as("is_target") :+
        explode(tokens(lower(col(textCol)))).as("t"): _*)
      .withColumn("b", pmod(GraftFunctions.polyhash(col("t")), lit(Buckets.toLong)))
      .drop("t")
  }

  /** Target and corpus bucket counts in ONE pass over the token
    * projection (the target slice is a subset of the corpus). Fails
    * FAST on an empty target slice: with nt_tot = 0 every lift
    * degenerates to the same smoothing constant and the "importance"
    * weights silently rank documents by nothing; the check reads the
    * already-materialized ≤ Buckets-row checkpoint, not the corpus. */
  private def bucketStats(tb: DataFrame): DataFrame = {
    val stats = tb.groupBy(col("b"))
      .agg(count(lit(1)).as("n_c"),
        count(when(col("is_target"), lit(1))).as("n_t"))
      .localCheckpoint(true) // ≤ Buckets rows; feeds totals AND the lift join
    val ntRow = stats.agg(sum(col("n_t"))).collect()(0)
    if (ntRow.isNullAt(0) || ntRow.getLong(0) == 0L)
      throw new IllegalArgumentException(
        "importanceScores: the target slice contributes no tokens — " +
          "importance weights would be meaningless")
    stats
  }

  /** The ≤ Buckets-row lift table (b, lift_ppm) from the bucket stats. */
  private def liftFrom(stats: DataFrame): DataFrame = {
    val tot = stats.agg(sum(col("n_c")).as("nc_tot"), sum(col("n_t")).as("nt_tot"))
    stats.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        s"CAST(CAST(n_t + 1 AS DECIMAL(38,0)) * (nc_tot + $Buckets) * $ScalePpm" +
          s" DIV (CAST(n_c + 1 AS DECIMAL(38,0)) * (nt_tot + $Buckets)) AS BIGINT)")
        .as("lift_ppm"))
  }

  /** Score → keep-rate in basis points: 5000 + score/divisor (integer
    * division TRUNCATING toward zero — scores are signed, and both
    * Spark's `div` and DuckDB's integer `//` truncate, measured, so
    * truncation is the convention the oracle replays), clamped to
    * [0, 10000]. A zero score (a document indistinguishable from the
    * corpus average) keeps at 50%; every ~`divisor`·5000 of centered-
    * lift evidence moves the rate by half the range.
    *
    * `(score − score % d) / d` is the truncating quotient built from
    * Column operators (Spark's `%` follows the dividend's sign, so the
    * numerator is the truncated multiple); the double divide is exact
    * because both operands are well inside 2^53. */
  def rateBp(score: Column, divisor: Long = 200L): Column =
    least(lit(10000L), greatest(lit(0L), lit(5000L) +
      ((score - (score % lit(divisor))) / lit(divisor)).cast("long")))
}
