package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKFunctions

/** BM25 ranked retrieval (Robertson-Spärck Jones) on exact integer
  * arithmetic — the ranking function the retrieval-prep chain (q48
  * TF-IDF, q100 chunk corpus) feeds, completing the RAG indexing path:
  *
  *   score(q, d) = Σ_{t ∈ q}  idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *
  * with k1 = 3/2, b = 3/4. Both transcendental-free substitutions keep
  * the score a pure integer (libm-free, bit-identical in any engine —
  * the [[SurprisalScore]] discipline):
  *
  *   - idf_bits = bitlen(2N+1) − bitlen(2·df+1): an integer ceiling-log2
  *     of the classic (N−df+0.5)/(df+0.5) odds ratio's magnitude —
  *     monotone-decreasing in df, ≥ 0, exact.
  *   - the tf saturation is a RATIONAL once avgdl = T/N is cleared of
  *     fractions: multiplying through by 8T gives
  *       num = 20·T·tf,   den = 8·T·tf + 3·T + 9·N·dl
  *     and the per-term contribution is the fixed-point integer
  *       idf_bits · num · [[Scale]] DIV den
  *     (every factor positive, so Spark's truncating DIV and DuckDB's
  *     flooring // agree bit-for-bit).
  *
  * Query workload: derived from the corpus itself — the top
  * `nQueries·termsPerQuery` terms by (df DESC, term), chopped into
  * consecutive groups of `termsPerQuery`. Deterministic, replayable,
  * and df-ranked terms are exactly the high-recall query mix a
  * retrieval benchmark wants.
  *
  * Scale shape: one tokenize pass builds (id, term, tf) — checkpointed
  * once because FOUR consumers derive from it (df, dl, the T total, the
  * scoring join). The vocabulary-sized df table broadcasts; the only
  * corpus-sized shuffles key on id. N and T are two scalar aggregates
  * (driver literals — the [[Quantize]] one-row-stats class). The
  * query-term selection is TakeOrderedAndProject (map-side partial
  * top-k) — no vocabulary-sized single-partition stage anywhere. The
  * per-term contribution's numerator is computed in DECIMAL(38,0)
  * (exact to 10^38), so the fixed point survives corpora far past the
  * ~10^10-token mark where long arithmetic would wrap.
  */
object Bm25 {

  /** Fixed-point scale of the returned scores (micro-units). */
  val Scale = 1000000L

  /** Prepared corpus index: the checkpointed term-frequency table, the
    * per-doc lengths, the two scalar corpus constants, and the
    * idf-annotated vocabulary. One tokenize pass feeds everything. */
  final case class Index(tf: DataFrame, dl: DataFrame, n: Long, t: Long,
      dfreq: DataFrame) {

    /** The derived query workload: top nQueries·termsPerQuery terms by
      * (df DESC, term), chopped into consecutive groups — (qid, term,
      * df, idf_bits). A global [[TopKFunctions.ranked]]: map-side
      * partial top-k, so the vocabulary is never collected to one
      * partition. */
    def queryTerms(nQueries: Int, termsPerQuery: Int): DataFrame =
      TopKFunctions.ranked(dfreq, Nil, Seq(col("df").desc, col("term")),
          nQueries * termsPerQuery)
        .select((((col("rank") - 1) / termsPerQuery).cast("long")).as("qid"),
          col("term"), col("df"), col("idf_bits"))

    /** Summed fixed-point BM25 contributions per (qid, id) for docs
      * sharing ≥ 1 query term (inner-join semantics — standard BM25
      * retrieval). The vocabulary-sized query set broadcasts; the only
      * corpus-sized shuffle keys on id. */
    def scores(qterms: DataFrame): DataFrame = {
      // the numerator idf_bits·tf·20T·Scale exceeds 2^63 once total
      // corpus tokens T reach ~10^10, so it is computed in
      // DECIMAL(38,0) (exact to 10^38; same truncating DIV, so values
      // are bit-identical to the long path wherever that didn't
      // overflow); the denominator stays comfortably in long until
      // T ~ 10^14
      val contrib = tf.join(broadcast(qterms), "term")
        .join(dl, "id")
        .withColumn("c", contribExpr(n, t))
        .select(col("qid"), col("id"), col("c"))
      contrib.groupBy(col("qid"), col("id"))
        .agg(sum(col("c")).as("score_fp"))
    }
  }

  /** Build the [[Index]]: one tokenize pass into (id, term, tf) —
    * checkpointed once because FOUR consumers derive from it (df, dl,
    * the T total, the scoring join). N and T are two scalar aggregates
    * (driver literals — the [[Quantize]] one-row-stats class). */
  def index(corpus: DataFrame, idCol: String, textCol: String): Index = {
    val toks = corpus.select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.tokens(lower(col(textCol))))
          .as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // dl and dfreq are each consumed by SEVERAL downstream actions
    // (scores, impacts, the MaxScore threshold and prune phases, the
    // query-term selection) — eagerly materialized so consumers read
    // the doc- / vocab-sized result instead of re-aggregating the
    // term-frequency table per action
    val dl = tf.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint(true)
    // N counts docs WITH tokens: exactly the BM25 candidate set
    val stats = dl.agg(count(lit(1)), sum(col("dl"))).head()
    require(!stats.isNullAt(1), "BM25 corpus has no tokenized rows")
    val (n, t) = (stats.getLong(0), stats.getLong(1))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf_bits",
        (length(bin(lit(2 * n + 1))) - length(bin(col("df") * 2 + 1))).cast("long"))
      .localCheckpoint(true)
    Index(tf, dl, n, t, dfreq)
  }

  /** The per-term fixed-point contribution over columns (idf_bits, tf,
    * dl) with the corpus constants as literals — ONE formula shared by
    * the batch scorer ([[Index.scores]]) and the streaming serve twin,
    * so the arithmetic can never fork. */
  def contribExpr(n: Long, t: Long): org.apache.spark.sql.Column = expr(
    s"CAST(idf_bits * tf AS DECIMAL(38,0)) * ${20L * t}L * ${Scale}L" +
      s" DIV (tf * ${8L * t}L + ${3L * t}L + dl * ${9L * n}L)")

  /** Persist an [[Index]] as four parquet parts — the serving artifact
    * of the retrieval family (the [[VectorIndexStore]] discipline
    * applied to sparse retrieval): corpus-sized `tf/` and `dl/` keep
    * their upstream partitioning, the vocab-sized `dfreq/` (with
    * idf_bits frozen at build time, so serving never needs N to
    * recompute idf) and the one-row `globals/` (n, t) read whole. */
  def writeIndex(ix: Index, path: String): Unit = {
    ix.tf.write.mode("overwrite").parquet(s"$path/tf")
    ix.dl.write.mode("overwrite").parquet(s"$path/dl")
    ix.dfreq.write.mode("overwrite").parquet(s"$path/dfreq")
    ix.tf.sparkSession.range(1)
      .select(lit(ix.n).as("n"), lit(ix.t).as("t"))
      .write.mode("overwrite").parquet(s"$path/globals")
  }

  /** Load a persisted index: lazy parquet scans for every table part;
    * the two scalar corpus constants are one driver-side one-row read
    * (the loaded-globals class — they ride the scoring expression as
    * literals exactly like the in-process build). Scoring against the
    * result touches no tokenize/aggregate training path. */
  def readIndex(s: org.apache.spark.sql.SparkSession, path: String): Index = {
    val g = s.read.parquet(s"$path/globals").head()
    Index(s.read.parquet(s"$path/tf"), s.read.parquet(s"$path/dl"),
      g.getAs[Long]("n"), g.getAs[Long]("t"), s.read.parquet(s"$path/dfreq"))
  }

  /** Rank a (qid, id, score_fp) score table to its per-query top `k`:
    * (qid, rank, id, score_fp), rank 1..k by (score_fp DESC, id).
    * `keys` are pass-through columns ranked apart, in front of qid —
    * the streaming serve twin passes its event-time window. */
  def rankTopK(score: DataFrame, k: Int, keys: Seq[String] = Nil): DataFrame =
    TopKFunctions.ranked(score, keys :+ "qid", Seq(col("score_fp").desc, col("id")), k)
      .select((keys ++ Seq("qid", "rank", "id", "score_fp")).map(col): _*)

  /** Top-`k` corpus rows per derived query: (qid, rank, id, score_fp).
    * `corpus` needs a BIGINT `idCol` and a string `textCol`; rank is
    * 1..k by (score_fp DESC, id). */
  def topK(corpus: DataFrame, idCol: String, textCol: String,
      nQueries: Int = 8, termsPerQuery: Int = 3, k: Int = 10): DataFrame = {
    val ix = index(corpus, idCol, textCol)
    rankTopK(ix.scores(ix.queryTerms(nQueries, termsPerQuery)), k)
  }

  /** Per-term IMPACT bounds — (term, ub_fp): the maximum fixed-point
    * contribution any document gives the term, i.e. the classic
    * impact-ordered-postings upper bound behind WAND/MaxScore
    * early exit. A BUILD-TIME artifact: one pass over the index's own
    * (tf, dl) postings when the index is built (vocab-sized output, a
    * serve persists it beside `dfreq` and never recomputes it per
    * query). Exact, not an estimate — scores are integers, so the
    * max is a hard ceiling.
    *
    * `onlyTerms`: restrict the bound computation to the given terms
    * (a KB-sized broadcast semi-join on the postings BEFORE the
    * per-term max) — each surviving term's bound is still taken over
    * its FULL posting list, so the values are identical to the
    * unrestricted artifact's; only the vocabulary-wide aggregation
    * shrinks to the posting lists a caller's query batch can consult.
    * The build-time artifact passes None; a per-batch prune passes its
    * query terms. */
  def impacts(ix: Index, onlyTerms: Option[DataFrame] = None): DataFrame = {
    val tf = onlyTerms match {
      case Some(ts) => ix.tf.join(
        broadcast(ts.select(col("term")).distinct()), Seq("term"), "left_semi")
      case None => ix.tf
    }
    tf.join(ix.dl, "id")
      .join(ix.dfreq.select(col("term"), col("idf_bits")), "term")
      .withColumn("c", contribExpr(ix.n, ix.t))
      .groupBy(col("term")).agg(max(col("c")).as("ub_fp"))
  }

  /** [[rankTopK]]∘[[Index.scores]] with a MaxScore-style prune — the
    * same EXACT top-k (gated against q118's oracle via q208), reached
    * in ONE pass over the matched postings:
    *
    *   1. per query, rank its terms by impact bound ([[impacts]],
    *      descending) and take suffix sums S_i = Σ_{j ≥ i} ub_j — a
    *      document whose best (highest-impact) matched term sits at
    *      rank i can score at most S_i;
    *   2. ONE (qid, id) aggregation over the matched postings computes,
    *      per candidate, its exact score, its reachable ceiling
    *      S_best(d) = max matched suffix_ub, and whether it matches the
    *      query's TOP-impact term;
    *   3. THRESHOLD θ_q: the k-th best exact score among the top-term
    *      matches — a LOWER bound on the true k-th score, because those
    *      candidates are a subset of all matches (the classic MaxScore
    *      threshold, read off the aggregate instead of re-scored);
    *   4. PRUNE: a document with S_best(d) < θ_q strictly cannot reach
    *      θ_q, and since the true k-th score is ≥ θ_q it cannot enter
    *      the top-k even on ties (ties need equality, pruning needs
    *      strict inequality) — dropped before the per-query top-k.
    *      Survivors' scores are already exact, so the final
    *      ranking equals the unpruned one.
    *
    * Fused-pass rationale (r19): the previous 3-phase form ran the
    * bound aggregation AND two more posting-sized passes (threshold
    * re-scoring via semi-join, survivor re-scoring via semi-join) plus
    * a driver collect for θ. The bound aggregation touches every
    * matched posting either way, so folding the exact score into that
    * SAME aggregation adds only the dl join + row-local arithmetic to
    * a pass that already exists — and deletes two posting-sized passes,
    * two shuffling semi-joins, and the driver collect (θ is now a
    * broadcast-joined ≤ nQueries-row subplan of the checkpointed
    * aggregate). With the df-DESC derived workload the top-impact
    * posting list is the corpus's longest, so the old threshold phase
    * already dl-joined the bulk of the postings; the checkpoint moves
    * from the posting-sized `matched` to the strictly smaller
    * (qid, id)-aggregated frame. The prune still bounds what enters
    * the per-query top-k — on selective (rare-term) real-world
    * queries, most candidates — which is the WAND/MaxScore shape. */
  def topKMaxScore(ix: Index, qterms: DataFrame, k: Int,
      termImpacts: DataFrame): DataFrame = {
    // per-query impact ranking + suffix bounds over ≤ |query| rows
    val qi = qterms.join(broadcast(termImpacts), "term")
    val rw = Window.partitionBy(col("qid"))
      .orderBy(col("ub_fp").desc, col("term"))
    val sw = Window.partitionBy(col("qid"))
      .orderBy(col("ub_fp").desc, col("term"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val ranked = qi
      .withColumn("ti", row_number().over(rw))
      .withColumn("suffix_ub", sum(col("ub_fp")).over(sw))
    // the fused pass: exact score + reachable ceiling + top-term flag
    // per (qid, id), from one aggregation of the matched postings —
    // checkpointed because the θ subplan and the final ranking both
    // read it (candidate-bounded rows, ≤ the posting count)
    // non-eager: the action's broadcast build (θ) is the first reader
    // and materializes the blocks; the probe side then reuses them —
    // one job per serve, not a checkpoint job plus the action
    val agg = ix.tf.join(broadcast(ranked), "term")
      .join(ix.dl, "id")
      .withColumn("c", contribExpr(ix.n, ix.t))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("c")).as("score_fp"),
        max(col("suffix_ub")).as("best_ub"),
        max(when(col("ti") === 1, lit(1)).otherwise(lit(0))).as("is_top"))
      .localCheckpoint(false)
    // threshold: k-th best exact score among the top-term docs — ≤
    // nQueries rows, broadcast back. A query with no θ row (fewer than
    // k docs match its top term) prunes nothing.
    val theta = rankTopK(
        agg.filter(col("is_top") === 1).select(col("qid"), col("id"), col("score_fp")), k)
      .filter(col("rank") === k)
      .select(col("qid"), col("score_fp").as("theta"))
    val survivors = agg.join(broadcast(theta), Seq("qid"), "left_outer")
      .filter(col("theta").isNull || col("best_ub") >= col("theta"))
      .select(col("qid"), col("id"), col("score_fp"))
    rankTopK(survivors, k)
  }
}
