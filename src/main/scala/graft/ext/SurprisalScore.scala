package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer surprisal scoring — a language-model quality filter (the
  * CCNet/KenLM perplexity gate of production curation pipelines)
  * rebuilt on exact integer arithmetic: the corpus itself is the LM
  * (token-bigram counts), and a document's surprisal is
  *
  *   Σ_bigrams bitlen(N) − bitlen(count(bigram))   ≈ Σ log2(N / c)
  *
  * — the bit-length difference is an integer ceiling-log2 of the
  * inverse probability, so common phrasing scores low and improbable
  * token sequences score high, with NO floating logs (libm-free, hence
  * bit-identical in any engine; real log2 would differ in the last ulp
  * and break replay).
  *
  * Scale design: one aggregation builds the bigram table (vocabulary-
  * sized, not corpus-sized), one join scores every occurrence, one
  * aggregation folds per document. The bigram table is corpus-global
  * state the same way [[Quantize]]'s min/max row is — at 100 TB it is
  * the only thing that crosses stages, and it can be broadcast when
  * the vocabulary is small.
  */
object SurprisalScore {

  /** The adjacent-bigram array of a BOUND token-array column `t`
    * (callers must bind the token array to a column first: an inline
    * tokens expression is re-inlined into every element_at of the
    * transform — no subexpression elimination inside Generate — so
    * each bigram would re-split the whole document, O(words²) string
    * work per doc, measured ~40× slower at sf0.1). Shared with the
    * streaming scorer so batch and stream can never fork. */
  private[graft] def bigramArray(t: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(size(t) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(t) - 2),
        i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))))

  /** (id, keys..., g): every adjacent token-bigram occurrence
    * (duplicates kept — counts, not sets, make a language model), with
    * the pass-through `keys` columns of `df` carried along. */
  private def bigrams(df: DataFrame, idCol: String, textCol: String,
      keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    df.select((col(idCol).as("id") +: keyCols) :+
        graft.functions.TextFunctions.tokens(col(textCol)).as("t"): _*)
      .select((col("id") +: keyCols) :+ explode(bigramArray(col("t"))).as("g"): _*)
  }

  /** The per-document surprisal fold over bigram occurrences already
    * joined to their count `c` and the model total `n_total`:
    * (by..., n_bigrams, surprisal_bits). The one copy of the bit-length
    * sum — the self-trained [[tokenBigramSurprisal]], the loaded-model
    * serve (q176) and [[scoreAgainst]] all fold through it. */
  private[graft] def surprisalFold(scored: DataFrame, by: Seq[Column]): DataFrame =
    scored.groupBy(by: _*)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("n_total"))).cast("long") - length(bin(col("c"))).cast("long"))
          .as("surprisal_bits"))

  /** Documents scored against a STATIC model ([[bigramModel]], trained
    * offline): (keys..., id, n_bigrams, surprisal_bits). Bigrams the
    * model never saw carry no evidence and drop from the inner join,
    * so a document with no known bigram emits no row. `keys` are
    * pass-through columns of `df` put in front of the per-doc fold —
    * the streaming scorers ([[graft.streaming.Streaming.ccnetBucketStream]],
    * `calibrationStream`, `mixMonitorStream`) pass their event-time
    * window and the document's tag columns. */
  private[graft] def scoreAgainst(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame, keys: Seq[String] = Nil): DataFrame =
    surprisalFold(bigrams(df, idCol, textCol, keys).join(model, Seq("g")),
      keys.map(col) :+ col("id"))

  /** The static bigram LM table a streaming scorer joins: (g, c,
    * n_total) — trained OFFLINE from a reference corpus. Vocabulary-
    * sized, not corpus-sized (the [[Quantize]] min/max-row discipline:
    * the only artifact that crosses from training to serving). */
  def bigramModel(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = bigrams(df, idCol, textCol).groupBy(col("g")).agg(count(lit(1)).as("c"))
    counts.crossJoin(broadcast(counts.agg(sum(col("c")).as("n_total"))))
  }

  /** Per-document integer surprisal: (id, n_bigrams, surprisal_bits,
    * millibits_per_gram = surprisal·1000 div n). Documents with < 2
    * tokens score null bits (no evidence). */
  def tokenBigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = bigrams(df, idCol, textCol)
    val counts = occ.groupBy(col("g")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    val scored = surprisalFold(occ.join(counts, "g").crossJoin(broadcast(total)),
      Seq(col("id")))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("surprisal_bits"),
        expr("CASE WHEN n_bigrams > 0 THEN surprisal_bits * 1000 DIV n_bigrams END")
          .as("millibits_per_gram"))
  }

  /** CCNet-style perplexity terciles (Wenzek et al. 2020): per
    * language, split documents into head/middle/tail of the
    * [[tokenBigramSurprisal]] rate — keep the well-modeled head, audit
    * the middle, drop the tail. Thresholds are EXACT rank statistics
    * computed the scale-safe way: one aggregation to a per-(lang,
    * score) histogram (bounded by distinct integer scores, not
    * documents), a cumulative window over those few rows, tercile cut
    * = min score whose cumulative count clears N/3 / 2N/3; assignment
    * is a row-local comparison against the broadcast per-lang
    * thresholds. Ties share a score and therefore a bucket (threshold
    * semantics, not ntile row-splitting) — engine-independent. Docs
    * with no bigrams are excluded (no rate to rank).
    * Output: (idCol, langCol, mb, bucket). */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    ccnetBucketsFrom(tokenBigramSurprisal(df, idCol, textCol), df, idCol, langCol)

  /** [[ccnetBuckets]] over an ALREADY-SCORED per-doc frame
    * ([[tokenBigramSurprisal]] shape) — so a session-cached scored
    * table ([[graft.queries.MiningQueries]]) feeds the whole surprisal
    * family without re-running the bigram chain per consumer. */
  def ccnetBucketsFrom(perDoc: DataFrame, df: DataFrame, idCol: String,
      langCol: String): DataFrame = {
    // checkpoint the per-doc scores: they feed BOTH the threshold
    // histogram and the final assignment — without materialization the
    // whole surprisal pipeline (bigram explode + count join) re-plans
    // per consumer
    val scored = perDoc
      .filter(col("n_bigrams") > 0)
      .select(col("id").as(idCol), col("millibits_per_gram").as("mb"))
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .localCheckpoint(true)
    scored.join(broadcast(ccnetThresholds(scored, langCol)), Seq(langCol))
      .select(col(idCol), col(langCol), col("mb"), bucketExpr.as("bucket"))
  }

  /** Per-language tercile thresholds (langCol, t1, t2) from (langCol,
    * mb) rows — rank-exact from the per-(lang, score) cumulative
    * histogram (bounded by distinct integer scores, never a corpus
    * sort). Exposed so a streaming deployment can train the thresholds
    * OFFLINE and assign buckets row-locally on the stream
    * ([[graft.streaming.Streaming.ccnetBucketStream]]). */
  def ccnetThresholds(scored: DataFrame, langCol: String): DataFrame = {
    val hist = scored.groupBy(col(langCol), col("mb")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col("mb"))
    val cum = hist.withColumn("cumn", sum(col("n")).over(w))
    // per-lang totals roll up from the histogram — no third pass over
    // the corpus-sized scores
    val tot = hist.groupBy(col(langCol)).agg(sum(col("n")).as("tot"))
    cum.join(tot, Seq(langCol))
      .groupBy(col(langCol))
      .agg(min(when(col("cumn") * 3 >= col("tot"), col("mb"))).as("t1"),
        min(when(col("cumn") * 3 >= col("tot") * 2, col("mb"))).as("t2"))
  }

  /** The row-local bucket verdict over (mb, t1, t2) — shared between
    * the batch assignment and the streaming twin so the two can never
    * fork. */
  private[graft] def bucketExpr: org.apache.spark.sql.Column =
    when(col("mb") <= col("t1"), "head")
      .when(col("mb") <= col("t2"), "middle")
      .otherwise("tail")

  /** ECDF bucket width for [[sourceCalibration]] — the surprisal rate
    * is quantized to `mb DIV CalibW` before ranking, so the serving
    * artifact is a bounded (source, bucket) table a stream can join on
    * EXACT keys (a fresh document's raw mb value need not have occurred
    * in the reference corpus, but its bucket has a well-defined rank
    * either way). */
  val CalibW = 64L

  /** Per-source score-calibration table from (srcCol, bkt) rows —
    * (srcCol, bkt, src_pct_ppm, glob_pct_ppm, gap_ppm): for each
    * source and score bucket, the exact fraction (in ppm, integer) of
    * that source's documents scoring STRICTLY below the bucket, next
    * to the same fraction over the whole corpus, and their difference.
    * A source whose gap_ppm is systematically non-zero is mis-calibrated
    * against the corpus-wide quality scale — the CCNet-style artifact a
    * mixing pipeline consults before comparing scores ACROSS sources.
    *
    * Scale shape: ONE aggregation to a per-(source, bucket) histogram
    * (bounded by sources × buckets, never documents), cumulative
    * windows over those few rows, totals rolled up from the histogram
    * itself — the [[ccnetThresholds]] discipline. The result is the
    * vocabulary-sized offline artifact of the train/serve split;
    * assignment (batch or stream) is a broadcast join + row-local
    * arithmetic. */
  def calibrationTable(bucketed: DataFrame, srcCol: String): DataFrame = {
    val hist = bucketed.groupBy(col(srcCol), col("bkt")).agg(count(lit(1)).as("n"))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol)).orderBy(col("bkt"))
    val src = hist.withColumn("below", sum(col("n")).over(wSrc) - col("n"))
    val srcTot = hist.groupBy(col(srcCol)).agg(sum(col("n")).as("tot"))
    val srcPct = src.join(srcTot, Seq(srcCol))
      .select(col(srcCol), col("bkt"),
        expr("below * 1000000 DIV tot").as("src_pct_ppm"))
    // the global histogram rolls up from the per-source one — no second
    // pass over the corpus-sized scores
    val ghist = hist.groupBy(col("bkt")).agg(sum(col("n")).as("gn"))
    val wG = org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
    val glob = ghist
      .withColumn("gbelow", sum(col("gn")).over(wG) - col("gn"))
      .crossJoin(broadcast(ghist.agg(sum(col("gn")).as("gtot"))))
      .select(col("bkt"), expr("gbelow * 1000000 DIV gtot").as("glob_pct_ppm"))
    srcPct.join(glob, Seq("bkt"))
      .select(col(srcCol), col("bkt"), col("src_pct_ppm"), col("glob_pct_ppm"),
        (col("src_pct_ppm") - col("glob_pct_ppm")).as("gap_ppm"))
  }

  /** (idCol, srcCol, mb, bkt) — the bucketed per-document surprisal
    * rate joined back to its source, the input of [[calibrationTable]]
    * and the per-doc side of the calibration join. Documents with no
    * bigrams are excluded (no score to calibrate). Eagerly
    * checkpointed: it feeds BOTH the histogram and the final
    * assignment. */
  def bucketedScores(df: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame =
    bucketedScoresFrom(tokenBigramSurprisal(df, idCol, textCol), df, idCol, srcCol)

  /** [[bucketedScores]] over an already-scored per-doc frame (the
    * [[ccnetBucketsFrom]] split, for the session-cached scored table). */
  def bucketedScoresFrom(perDoc: DataFrame, df: DataFrame, idCol: String,
      srcCol: String): DataFrame =
    perDoc
      .filter(col("n_bigrams") > 0)
      .select(col("id").as(idCol), col("millibits_per_gram").as("mb"))
      .join(df.select(col(idCol), col(srcCol)), Seq(idCol))
      .withColumn("bkt", expr(s"mb DIV $CalibW"))
      .localCheckpoint(true)

  /** Per-source score calibration (the full batch operator): every
    * scored document mapped to its within-source and corpus-global
    * ECDF position (integer ppm) plus the calibration gap. Output:
    * (idCol, srcCol, mb, bkt, src_pct_ppm, glob_pct_ppm, gap_ppm). */
  def sourceCalibration(df: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame =
    sourceCalibrationFrom(tokenBigramSurprisal(df, idCol, textCol), df, idCol, srcCol)

  /** [[sourceCalibration]] over an already-scored per-doc frame. */
  def sourceCalibrationFrom(perDoc: DataFrame, df: DataFrame, idCol: String,
      srcCol: String): DataFrame = {
    val scored = bucketedScoresFrom(perDoc, df, idCol, srcCol)
    scored.join(broadcast(calibrationTable(scored, srcCol)), Seq(srcCol, "bkt"))
      .select(col(idCol), col(srcCol), col("mb"), col("bkt"),
        col("src_pct_ppm"), col("glob_pct_ppm"), col("gap_ppm"))
  }
}
