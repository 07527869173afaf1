package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distilled Naive-Bayes quality classifier — the CCNet/DCLM
  * discipline (Wenzek et al. 2020; Li et al. 2024) of training a cheap
  * linear text classifier on a labeled proxy and scoring everything
  * with it, rebuilt on exact integer arithmetic: multinomial NB with
  * add-one smoothing, log2 approximated by integer bit-length
  * (`bitlen(x) = length(bin(x))` — the q86 surprisal discipline), so
  * training and scoring replay bit-identically in any engine. Labels
  * come from [[QualityGate.gopherGate]]'s own verdicts — the
  * hard-threshold rule gate is the teacher, the NB model the smooth
  * student that generalizes its decision surface to unseen documents
  * (exactly how production pipelines bootstrap a quality classifier
  * from a high-precision heuristic).
  *
  * Math (all integers): for token t with class occurrence counts c1
  * (keep) / c0 (reject), class totals n1/n0, vocabulary size v, and
  * doc counts nd1/nd0,
  *
  *   score(doc) = prior + n_tokens·D + Σ_t [bitlen(c1+1) − bitlen(c0+1)]
  *   D      = bitlen(n0+v) − bitlen(n1+v)     (per-occurrence constant)
  *   prior  = bitlen(nd1) − bitlen(nd0)
  *
  * — the per-token smoothing denominators factor into the constant D,
  * so a token unseen in training contributes bitlen(1)−bitlen(1) = 0
  * and the serve-time weight table needs ONE integer per vocabulary
  * token. keep ⇔ score > 0.
  *
  * Scale shape: training is one explode + two keyed aggregations
  * (vocabulary-sized output, map-side combined); scoring is one
  * explode + a left join against the vocab-sized weight table (AQE
  * broadcasts it when it fits — it is the only training artifact that
  * crosses to serving, the [[SurprisalScore.bigramModel]] split) + one
  * per-doc roll-up. Nothing corpus-sized is collected or broadcast.
  */
object NbClassifier {

  private def bitlen(c: Column): Column = length(bin(c)).cast("long")

  /** Train from labeled docs: returns (weights, globals) where
    * `weights` is the vocab-sized (tok, w_bits) table and `globals` a
    * ONE-ROW frame (d_bits, prior_bits) — the complete serving
    * artifact. `labels` must be (idCol, keep 0/1) covering the
    * training docs. */
  def trainWeights(docs: DataFrame, idCol: String, textCol: String,
      labels: DataFrame): (DataFrame, DataFrame) = {
    val occ = docs.select(col(idCol),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .join(labels.select(col(idCol), col("keep")), idCol)
    val tokCounts = occ.groupBy(col("tok"))
      .agg(sum(col("keep")).as("c1"), sum(lit(1) - col("keep")).as("c0"))
    val weights = tokCounts.select(col("tok"),
      (bitlen(col("c1") + 1) - bitlen(col("c0") + 1)).as("w_bits"))
    val totals = tokCounts.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"),
      count(lit(1)).as("v"))
    val docCounts = labels.agg(sum(col("keep")).as("nd1"),
      sum(lit(1) - col("keep")).as("nd0"))
    val globals = totals.crossJoin(docCounts).select(
      (bitlen(col("n0") + col("v")) - bitlen(col("n1") + col("v"))).as("d_bits"),
      (bitlen(col("nd1")) - bitlen(col("nd0"))).as("prior_bits"))
    (weights, globals)
  }

  /** Score docs against a trained (weights, globals) pair:
    * (keys..., id, n_tokens, score_bits, nb_keep). Unknown tokens
    * contribute 0 beyond the n_tokens·D term (left join + coalesce);
    * zero-token docs score prior only (explode_outer keeps them).
    * `keys` are pass-through columns of `docs` (empty for a batch)
    * put in front of the per-doc `groupBy` — the streaming twin
    * ([[graft.streaming.Streaming.nbScoreStream]]) passes its
    * event-time window. */
  def score(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, globals: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val base = docs
      .select((col(idCol).as("id") +: keyCols) :+
        graft.functions.TextFunctions.tokens(col(textCol)).as("t"): _*)
      .select((col("id") +: keyCols) ++ Seq(size(col("t")).cast("long").as("n_tokens"),
        explode_outer(col("t")).as("tok")): _*)
    base.join(weights, Seq("tok"), "left")
      .groupBy(keyCols :+ col("id"): _*)
      .agg(first(col("n_tokens")).as("n_tokens"),
        sum(coalesce(col("w_bits"), lit(0L))).as("w_sum"))
      .crossJoin(broadcast(globals))
      .select(keyCols ++ Seq(col("id"), col("n_tokens"),
        (col("prior_bits") + col("n_tokens") * col("d_bits") + col("w_sum"))
          .as("score_bits")): _*)
      .withColumn("nb_keep", (col("score_bits") > 0).cast("int"))
  }
}
