package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Similarity, SurprisalScore}

/** Training-data mining: corpus-LM surprisal quality scoring (q86) and
  * contrastive hard-negative mining (q87). */
object MiningQueries {

  /** Session-scoped cache of the documents table's winnowing
    * fingerprints (id, fp) — the shared upstream of the span-overlap
    * family (q124 shared-fingerprint postings, q146 decontamination,
    * q148's release-pipeline contamination stage): fingerprint
    * selection re-hashes every 8-gram of every document, so without
    * sharing each family member pays the dominant upstream cost again.
    * Materialized once per (session, dir) — 8 bytes per selected
    * fingerprint, ~2/(w+1) of the grams, the corpus-version artifact a
    * real pipeline computes once (the [[TextQueries]] shingle-cache /
    * [[SketchQueries]] vector-cache discipline). Hash-neutral:
    * consumers run identical operators over identical rows. */
  private val winnowCache = SessionArtifact[DataFrame]("winnow_fps")

  /** The per-doc distinct selected fingerprints, cached per
    * (session, dir, k, w) — the cache key carries the OPERATING POINT,
    * because fingerprint sets at different (k, w) are different
    * artifacts: the default 8/4 point feeds q124/q146/q148, the
    * long-span 20/8 point feeds q183's evaluation, and each is
    * materialized once. */
  private[queries] def sharedWinnowFps(s: SparkSession, dir: String,
      k: Int = graft.ext.Winnowing.K, w: Int = graft.ext.Winnowing.W): DataFrame =
    winnowCache(s, dir, k, w) {
      graft.ext.Winnowing.fingerprints(
        Tables.load(s, dir, "documents"), "doc_id", "text", k, w).localCheckpoint(true)
    }

  /** Session-scoped cache of the documents table's per-doc surprisal
    * scores ([[SurprisalScore.tokenBigramSurprisal]] shape: id,
    * n_bigrams, surprisal_bits, millibits_per_gram) — the shared
    * upstream of the whole surprisal family (q86 raw scores, q158
    * CCNet terciles, q171/q172 calibration): each consumer otherwise
    * re-runs the bigram explode + LM-count join, the family's dominant
    * cost. One thin row per document; the winnow/shingle-cache
    * discipline. */
  private val surprisalCache = SessionArtifact[DataFrame]("surprisal")

  private[queries] def sharedSurprisal(s: SparkSession, dir: String): DataFrame =
    surprisalCache(s, dir) {
      SurprisalScore.tokenBigramSurprisal(
        Tables.load(s, dir, "documents"), "doc_id", "text").localCheckpoint(true)
    }

  /** q86: integer surprisal per document — the perplexity-style quality
    * gate with the corpus's own token-bigram counts as the LM and
    * bit-length arithmetic instead of floating logs. */
  def q86Surprisal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedSurprisal(s, dir)
      .select($"id".as("doc_id"), $"n_bigrams", $"surprisal_bits", $"millibits_per_gram")
      .orderBy($"doc_id")
  }

  /** Parameterized DuckDB replica of the token-bigram surprisal core
    * (the q86 chain), CTE names prefixed with `p`:
    * ${p}toks → ${p}g2 → ${p}cnt → ${p}n →
    * ${p}s (doc_id, n_bigrams, surprisal_bits) →
    * ${p}rate (doc_id, mbpg; bigram-less docs excluded). ONE
    * definition feeds q86, the tercile chain ([[ccnetSensCtesSql]] →
    * q158/q189/q190/q192), and q188's surprisal ranking, so the LM
    * recipe can never fork across oracles. */
  private[queries] def surprisalCtesSqlFor(p: String): String =
    s"""${p}toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
      |${p}g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
      |        i -> t[i] || ' ' || t[i+1])) AS g FROM ${p}toks),
      |${p}cnt AS (SELECT g, COUNT(*) AS c FROM ${p}g2 GROUP BY g),
      |${p}n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM ${p}cnt),
      |${p}s AS (SELECT ${p}g2.doc_id, COUNT(*) AS n_bigrams,
      |    CAST(SUM(CAST(length(bin(${p}n.n_total)) AS BIGINT)
      |             - CAST(length(bin(${p}cnt.c)) AS BIGINT)) AS BIGINT) AS surprisal_bits
      |  FROM ${p}g2 JOIN ${p}cnt USING (g) CROSS JOIN ${p}n GROUP BY ${p}g2.doc_id),
      |${p}rate AS (SELECT doc_id, surprisal_bits * 1000 // n_bigrams AS mbpg
      |  FROM ${p}s WHERE n_bigrams > 0)""".stripMargin

  val q86Sql: String =
    s"""WITH ${surprisalCtesSqlFor("")}
      |SELECT d.doc_id,
      |  CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  s.surprisal_bits,
      |  CAST(CASE WHEN s.n_bigrams > 0 THEN s.surprisal_bits * 1000 // s.n_bigrams END AS BIGINT)
      |    AS millibits_per_gram
      |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The q158 CCNet tercile chain over the shared surprisal core:
    * … → sc (doc_id, lang, mb) → hist/cum/tot/thr (the per-language
    * rank-exact tercile cuts) → sens (doc_id, lang, mb, bucket).
    * Shared by q158's oracle, the privacy audits (q189/q190 via
    * `kAnonAuditCtesSql`), and the q192 curriculum — every consumer
    * replays the ONE tercile recipe. */
  private[queries] val ccnetSensCtesSql: String =
    s"""${surprisalCtesSqlFor("")},
      |sc AS (SELECT dd.doc_id, dd.lang, r.mbpg AS mb
      |  FROM rate r JOIN documents dd USING (doc_id)),
      |hist AS (SELECT lang, mb, COUNT(*) AS n FROM sc GROUP BY lang, mb),
      |cum AS (SELECT lang, mb,
      |    SUM(n) OVER (PARTITION BY lang ORDER BY mb) AS cumn FROM hist),
      |tot AS (SELECT lang, COUNT(*) AS tot FROM sc GROUP BY lang),
      |thr AS (SELECT lang,
      |    MIN(CASE WHEN cumn * 3 >= tot THEN mb END) AS t1,
      |    MIN(CASE WHEN cumn * 3 >= tot * 2 THEN mb END) AS t2
      |  FROM cum JOIN tot USING (lang) GROUP BY lang),
      |sens AS (SELECT sc.doc_id, sc.lang, sc.mb,
      |    CASE WHEN sc.mb <= t.t1 THEN 'head'
      |         WHEN sc.mb <= t.t2 THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM sc JOIN thr t USING (lang))""".stripMargin

  /** The per-source calibration prefix over the shared surprisal
    * core: … → b (doc_id, source, mb, 64-millibit bkt) →
    * hist/src/stot/sp (the within-source ppm ECDF). ONE definition
    * feeds q171, q172, q176 and the mixTagged chain (q175/q181), so
    * the bucketing and ECDF arithmetic can never fork. */
  private[queries] def calibCtesSqlFor(p: String): String =
    s"""${surprisalCtesSqlFor(p)},
      |${p}b AS (SELECT d.doc_id, d.source, r.mbpg AS mb, r.mbpg // 64 AS bkt
      |  FROM ${p}rate r JOIN documents d USING (doc_id)),
      |${p}hist AS (SELECT source, bkt, COUNT(*) AS n FROM ${p}b GROUP BY 1, 2),
      |${p}src AS (SELECT source, bkt,
      |    SUM(n) OVER (PARTITION BY source ORDER BY bkt) - n AS below FROM ${p}hist),
      |${p}stot AS (SELECT source, SUM(n) AS tot FROM ${p}hist GROUP BY 1),
      |${p}sp AS (SELECT s.source, s.bkt,
      |    CAST(below * 1000000 // tot AS BIGINT) AS src_pct_ppm
      |  FROM ${p}src s JOIN ${p}stot USING (source))""".stripMargin

  private[queries] val calibCtesSql: String = calibCtesSqlFor("")

  /** The corpus-global ECDF companion (gh/g/gt/gp over `hist`) shared
    * by q171 and q172 — the gap the calibration exists to measure. */
  private[queries] val globalCalibCtesSql: String =
    """gh AS (SELECT bkt, SUM(n) AS gn FROM hist GROUP BY 1),
      |g AS (SELECT bkt, SUM(gn) OVER (ORDER BY bkt) - gn AS gbelow FROM gh),
      |gt AS (SELECT SUM(gn) AS gtot FROM gh),
      |gp AS (SELECT bkt, CAST(gbelow * 1000000 // gtot AS BIGINT) AS glob_pct_ppm
      |  FROM g CROSS JOIN gt)""".stripMargin

  /** q158: CCNet-style perplexity buckets — per language, documents
    * split into head/middle/tail terciles of the q86 integer surprisal
    * rate (Wenzek et al. 2020's triage: keep the well-modeled head,
    * audit the middle, drop the tail). Thresholds are exact rank
    * statistics computed the scale-safe way: ONE aggregation to a
    * per-(lang, score) histogram (bounded by distinct integer scores,
    * not documents), a cumulative window over those few rows, and the
    * tercile cut = min score whose cumulative count clears ⌈N/3⌉ /
    * ⌈2N/3⌉ — the q83/q152 cumulative-histogram discipline; bucket
    * assignment is then a row-local comparison against the broadcast
    * per-lang thresholds. Ties share a score and therefore a bucket
    * (threshold semantics, not ntile row-splitting), so the verdict is
    * engine-independent. Docs with no bigrams are excluded (no rate to
    * rank). */
  def q158CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SurprisalScore.ccnetBucketsFrom(sharedSurprisal(s, dir),
        Tables.load(s, dir, "documents"), "doc_id", "lang")
      .orderBy($"doc_id")
  }


  val q158Sql: String =
    s"""WITH $ccnetSensCtesSql
      |SELECT doc_id, lang, mb, bucket FROM sens ORDER BY doc_id""".stripMargin

  /** q87: hard negatives — for each of the first 10 query vectors, the
    * 5 most cosine-similar vectors with a DIFFERENT label. */
  def q87HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    Similarity.hardNegatives(emb, emb.filter($"vec_id" < 10),
        "vec_id", "embedding", "label", k = 5)
      .orderBy($"query_id", $"rank")
  }

  val q87Sql: String =
    """WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, label, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |q AS (SELECT vec_id AS query_id, label AS query_label, e AS qe, nrm AS qnrm
      |  FROM n WHERE vec_id < 10),
      |sc AS (SELECT q.query_id, q.query_label, n.vec_id AS neighbor_id, n.label AS neighbor_label,
      |    list_sum(list_transform(generate_series(1, 64), i -> q.qe[i]*n.e[i])) / (q.qnrm*n.nrm) AS cos
      |  FROM q JOIN n ON n.label != q.query_label),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER
      |  (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank FROM sc)
      |SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cos
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** q89: quality-aware dedup representatives — near-dup clusters
    * (q47's MinHash-LSH → connected components) each keep their
    * HIGHEST-QUALITY member instead of the min-id: CC labels joined to
    * the quality score, best member per cluster via the bounded-state
    * [[graft.functions.TopKAgg]] (k=1 — an argmax that ships one row
    * per (partition, cluster)). */
  def q89BestRep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val labels = HashDedupQueries.sharedLshCcLabels(s, dir)
    val quality = docs.select($"doc_id",
      graft.functions.TextFunctions.qualityScore($"text").as("quality"))
    labels.join(quality, labels("id") === quality("doc_id"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        graft.functions.TopKFunctions.topK(
          struct((-$"quality").as("nq"), $"doc_id"), 1).as("top"))
      .select($"cluster_id", $"cluster_size",
        element_at($"top", 1)("doc_id").as("rep_id"),
        (-element_at($"top", 1)("nq")).as("rep_quality"))
      .orderBy($"cluster_id")
  }

  val q89Sql: String = {
    val quality = CorpusQueries.quality
    s"""WITH RECURSIVE ${ScaleQueries.lshCcChainSql},
      |q AS (SELECT doc_id, $quality AS quality FROM documents),
      |j AS (SELECT lab.cluster_id, lab.doc_id, q.quality FROM lab JOIN q USING (doc_id)),
      |r2 AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size FROM j)
      |SELECT cluster_id, cluster_size, doc_id AS rep_id, quality AS rep_quality
      |FROM r2 WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  }

  /** q91: per-segment distinct sketches — one HLL register vector per
    * l_returnflag (groups × 256 longs of state, mergeable, constant in
    * data size) next to the exact per-group distinct count. */
  def q91GroupHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Hll
    val li = Tables.load(s, dir, "lineitem")
    val est = Hll.groupEstimate(Hll.groupRegisters(li, $"l_returnflag", $"l_partkey"))
    val exact = li.groupBy($"l_returnflag").agg(countDistinct($"l_partkey").as("n_exact"))
    est.join(exact, est("grp") === exact("l_returnflag"))
      .select(est("grp").as("l_returnflag"), $"m", $"n_zero", $"sum_pow",
        $"est_raw", $"n_exact")
      .orderBy($"l_returnflag")
  }

  val q91Sql: String =
    s"""WITH ${AnalyticsQueries.regChainSql("", "lineitem",
          "CAST(l_partkey AS VARCHAR)", Some("l_returnflag"))},
      |agg AS (SELECT grp, COUNT(*) AS m,
      |    CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |    CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT) AS sum_pow
      |  FROM reg GROUP BY grp),
      |ex AS (SELECT l_returnflag AS grp, COUNT(DISTINCT l_partkey) AS n_exact
      |  FROM lineitem GROUP BY 1)
      |SELECT agg.grp AS l_returnflag, agg.m, agg.n_zero, agg.sum_pow,
      |  round(${AnalyticsQueries.estSql.format("agg.sum_pow")}, 6) AS est_raw,
      |  ex.n_exact
      |FROM agg JOIN ex ON agg.grp = ex.grp ORDER BY l_returnflag""".stripMargin

  /** q114: sliding-window distinct sketch — per-10-minute-bucket HLL
    * registers ([[graft.ext.Hll.groupRegisters]]) merged across each
    * 3-bucket sliding window by elementwise max, plus the exact
    * distinct count per window for comparison. THE argument for
    * sketches at 100 TB: the exact side re-shuffles raw (window, user)
    * pairs — W× the stream — while the sketch side merges at most
    * W×256 longs per window regardless of data size (sparse: hit
    * buckets only, zero terms recovered arithmetically), and the same
    * merge serves
    * cross-day rollups, stream checkpoints, and backfill unions. */
  def q114SlidingHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.loadEvents(s, dir)
      .select(expr("sec DIV 600").as("grp0"), $"user_id")
      .localCheckpoint(false) // feeds the register build AND the exact side
    // sparse registers (q141's r17 treatment): windows are data-scaled,
    // so the dense windows × 256 skeleton amplifies rows for nothing —
    // the max-merge works on hit rows and groupEstimateSparse recovers
    // the zero-bucket terms arithmetically, bit-identical integers
    val slid = graft.ext.Hll.groupRegistersSparse(ev, $"grp0", $"user_id")
      .withColumn("w", explode(sequence($"grp", $"grp" + 2)))
      .groupBy($"w", $"bucket").agg(max($"r").as("r"))
    val est = graft.ext.Hll.groupEstimateSparse(
      slid.select($"w".as("grp"), $"bucket", $"r"))
    val exact = ev.withColumn("w", explode(sequence($"grp0", $"grp0" + 2)))
      .groupBy($"w").agg(countDistinct($"user_id").as("n_exact"))
    est.join(exact, est("grp") === exact("w"))
      .select($"grp".as("win"), $"m", $"n_zero", $"sum_pow", $"est_raw", $"n_exact")
      .orderBy($"win")
  }

  val q114Sql: String =
    s"""WITH ev AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 600 AS grp0,
      |  user_id FROM events),
      |${AnalyticsQueries.regChainSql("", "ev", "CAST(user_id AS VARCHAR)", Some("grp0"))},
      |sl AS (SELECT w, bucket, MAX(r) AS r FROM
      |  (SELECT unnest(generate_series(grp, grp + 2)) AS w, bucket, r FROM reg) t
      |  GROUP BY w, bucket),
      |agg AS (SELECT w, COUNT(*) AS m,
      |    CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |    CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT) AS sum_pow
      |  FROM sl GROUP BY w),
      |ex AS (SELECT w, COUNT(DISTINCT user_id) AS n_exact FROM
      |  (SELECT unnest(generate_series(grp0, grp0 + 2)) AS w, user_id FROM ev) t
      |  GROUP BY w)
      |SELECT agg.w AS win, agg.m, agg.n_zero, agg.sum_pow,
      |  round(${AnalyticsQueries.estSql.format("agg.sum_pow")}, 6) AS est_raw,
      |  ex.n_exact
      |FROM agg JOIN ex ON agg.w = ex.w ORDER BY win""".stripMargin

  /** q141: GROUPED sliding-window distinct sketch — distinct users per
    * (event_type, 3-bucket sliding 10-minute window): q114's sliding
    * HLL merge, but with one register vector per (event_type, bucket)
    * via a composite struct group
    * ([[graft.ext.Hll.groupRegistersSparse]] — HIT buckets only, the
    * zero-bucket terms recovered arithmetically by
    * [[graft.ext.Hll.groupEstimateSparse]]; bit-identical to the dense
    * chain the oracle replays), merged across the window by
    * elementwise max — the live-dashboard shape
    * (distinct-per-key-per-window). Exact per-(type, window) distinct
    * counts ride alongside for comparison. State is bounded by
    * min(input rows, (types × windows) × 256) — sparse matters here
    * precisely because the groups are DATA-scaled: the dense skeleton
    * was a 55× row amplification of the gate input — there is no
    * single-partition stage at ANY group count, and the same merge
    * serves cross-key rollups: max-merging the per-type vectors of a
    * window reproduces q114's global window sketch exactly. */
  def q141GroupSlidingHll(s: SparkSession, dir: String): DataFrame =
    groupSlidingHll(s, dir, withExact = true)

  /** q141c: q141's sketch path ALONE — the 100 TB form (the q134c
    * treatment applied to the suite's top warm cost). q141's exact
    * side (a per-(type, window) `countDistinct` over the 3×-exploded
    * events) exists to MEASURE the sketch and is the right gate at
    * verification scale, but at production scale the exact side IS
    * the cost; this entry drops it, leaving one scan → one sparse
    * register exchange (hit buckets only, ≤ min(input, groups × 256))
    * → the window merge. Same core builder as q141, so the two cannot
    * fork; [[SketchOpsSpec]] pins that its estimate columns are
    * byte-identical to q141's and that no distinct aggregate and no
    * event-sized checkpoint remains in the plan. */
  def q141cGroupSlidingHllOnly(s: SparkSession, dir: String): DataFrame =
    groupSlidingHll(s, dir, withExact = false)

  private def groupSlidingHll(s: SparkSession, dir: String,
      withExact: Boolean): DataFrame = {
    import s.implicits._
    val evRaw = Tables.loadEvents(s, dir)
      .select($"event_type", expr("sec DIV 600").as("grp0"), $"user_id")
    // checkpoint ONLY when the exact side gives the events a second
    // consumer; sketch-only streams them straight into the register
    // build (the q134b/q134c discipline)
    val ev = if (withExact) evRaw.localCheckpoint(false) else evRaw
    // SPARSE registers end to end: (type, window) groups are
    // data-scaled here, and the dense 256-bucket skeleton was a 55×
    // row amplification of the input (5.5M skeleton rows from 100k
    // events at sf0.1, 16M after the 3× window explode). The sliding
    // max-merge is max over hit rows (absent = 0 implicitly) and the
    // estimate recovers the zero-bucket terms arithmetically
    // (groupEstimateSparse) — bit-identical integers, the oracle's
    // dense replay unchanged.
    val regs = graft.ext.Hll.groupRegistersSparse(ev,
      struct($"event_type".as("et"), $"grp0".as("g0")), $"user_id")
    val slid = regs
      .select($"grp.et".as("event_type"),
        explode(sequence($"grp.g0", $"grp.g0" + 2)).as("w"), $"bucket", $"r")
      .groupBy($"event_type", $"w", $"bucket").agg(max($"r").as("r"))
    val est = graft.ext.Hll.groupEstimateSparse(
        slid.select(struct($"event_type", $"w").as("grp"), $"bucket", $"r"))
      .select($"grp.event_type".as("event_type"), $"grp.w".as("win"),
        $"m", $"n_zero", $"sum_pow", $"est_raw")
    if (!withExact) est.orderBy($"event_type", $"win")
    else {
      val exact = ev.withColumn("w", explode(sequence($"grp0", $"grp0" + 2)))
        .groupBy($"event_type", $"w").agg(countDistinct($"user_id").as("n_exact"))
      est.join(exact,
          est("event_type") === exact("event_type") && est("win") === exact("w"))
        .select(est("event_type"), $"win", $"m", $"n_zero", $"sum_pow",
          $"est_raw", $"n_exact")
        .orderBy($"event_type", $"win")
    }
  }

  val q141Sql: String =
    s"""WITH ev AS (SELECT event_type,
      |  CAST(floor(epoch(ts)) AS BIGINT) // 600 AS grp0, user_id FROM events),
      |${AnalyticsQueries.regChainSql("", "ev", "CAST(user_id AS VARCHAR)",
        Some("{'et': event_type, 'g0': grp0}"))},
      |sl AS (SELECT t.grp.et AS event_type, w, bucket, MAX(r) AS r FROM
      |  (SELECT grp, unnest(generate_series(grp.g0, grp.g0 + 2)) AS w, bucket, r
      |   FROM reg) t
      |  GROUP BY t.grp.et, w, bucket),
      |agg AS (SELECT event_type, w, COUNT(*) AS m,
      |    CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |    CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT) AS sum_pow
      |  FROM sl GROUP BY event_type, w),
      |ex AS (SELECT event_type, w, COUNT(DISTINCT user_id) AS n_exact FROM
      |  (SELECT event_type, unnest(generate_series(grp0, grp0 + 2)) AS w, user_id
      |   FROM ev) t
      |  GROUP BY event_type, w)
      |SELECT agg.event_type, agg.w AS win, agg.m, agg.n_zero, agg.sum_pow,
      |  round(${AnalyticsQueries.estSql.format("agg.sum_pow")}, 6) AS est_raw,
      |  ex.n_exact
      |FROM agg JOIN ex ON agg.event_type = ex.event_type AND agg.w = ex.w
      |ORDER BY agg.event_type, win""".stripMargin

  /** q141's oracle chain minus the exact side — same register replay. */
  val q141cSql: String =
    s"""WITH ev AS (SELECT event_type,
      |  CAST(floor(epoch(ts)) AS BIGINT) // 600 AS grp0, user_id FROM events),
      |${AnalyticsQueries.regChainSql("", "ev", "CAST(user_id AS VARCHAR)",
        Some("{'et': event_type, 'g0': grp0}"))},
      |sl AS (SELECT t.grp.et AS event_type, w, bucket, MAX(r) AS r FROM
      |  (SELECT grp, unnest(generate_series(grp.g0, grp.g0 + 2)) AS w, bucket, r
      |   FROM reg) t
      |  GROUP BY t.grp.et, w, bucket),
      |agg AS (SELECT event_type, w, COUNT(*) AS m,
      |    CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |    CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT) AS sum_pow
      |  FROM sl GROUP BY event_type, w)
      |SELECT agg.event_type, agg.w AS win, agg.m, agg.n_zero, agg.sum_pow,
      |  round(${AnalyticsQueries.estSql.format("agg.sum_pow")}, 6) AS est_raw
      |FROM agg ORDER BY agg.event_type, win""".stripMargin

  /** q124: winnowing fingerprints ([[graft.ext.Winnowing]], the MOSS
    * algorithm) — local-min sampling of 8-gram hashes in windows of 4,
    * then the cross-doc posting list of fingerprints selected by ≥ 2
    * documents: any shared span of ≥ 11 chars is guaranteed to surface
    * here (guaranteed recall, unlike MinHash's probabilistic banding).
    * Output is the shared-fingerprint summary (bounded by the distinct
    * 8-gram space, never pairs — no quadratic blowup on boilerplate). */
  def q124Winnowing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedWinnowFps(s, dir)
      .groupBy($"fp").agg(count(lit(1)).as("n_docs"),
        min($"id").as("first_doc"), max($"id").as("last_doc"))
      .filter($"n_docs" >= 2)
      .orderBy($"fp")
  }

  /** Shared DuckDB winnowing chain (q124/q146): per-doc distinct
    * selected fingerprints `fps(doc_id, fp)` — mirrors
    * [[graft.ext.Winnowing.fingerprints]] and must never fork between
    * the two oracles. */
  /** DuckDB replay of [[graft.ext.Winnowing.fingerprints]] for ANY
    * (k, w) — one CTE chain yielding `fps` (doc_id, fp). The engine's
    * defaults (8, 4) stay the shared `winnowFpsSql` below; q183's
    * long-span evaluation instantiates (20, 8). */
  private[queries] def winnowFpsSqlFor(k: Int, w: Int): String =
    s"""d AS (SELECT doc_id, text, length(text) - ${k - 1} AS ngrams
      |  FROM documents WHERE length(text) - ${k - 1} >= $w),
      |pos AS (SELECT doc_id, ngrams, unnest(generate_series(1, ngrams)) AS off, text
      |  FROM d),
      |ph AS (SELECT doc_id, ngrams, off,
      |    ${AnalyticsQueries.polyhashSql(s"substr(text, off, $k)")} AS h FROM pos),
      |sel AS (SELECT doc_id, ngrams, off,
      |    MIN(h * 4294967296 + off) OVER (PARTITION BY doc_id ORDER BY off
      |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mc FROM ph),
      |fps AS MATERIALIZED (SELECT DISTINCT doc_id, mc // 4294967296 AS fp FROM sel
      |  WHERE off + ${w - 1} <= ngrams)""".stripMargin

  private[queries] val winnowFpsSql: String = winnowFpsSqlFor(8, 4)

  val q124Sql: String =
    s"""WITH $winnowFpsSql,
      |sh AS (SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
      |    MAX(doc_id) AS last_doc FROM fps GROUP BY fp)
      |SELECT fp, n_docs, first_doc, last_doc FROM sh WHERE n_docs >= 2
      |ORDER BY fp""".stripMargin

  /** q183: winnowing RECALL/PRECISION evaluation against exact span
    * truth — the q137/q147/q164 swap-exact-for-approx discipline
    * applied to the span family, at a LONG-span operating point
    * (k = 20, w = 8 → guarantee length 27) where the truth set is
    * discriminating (at the default 8/4 point every doc of this
    * corpus shares an 11-char span with another — common phrases —
    * and the matrix degenerates to all-TP). Truth: a document shares
    * a 27-char substring with ANOTHER document — computed on raw
    * substrings, collision-free. Estimate: the document shares a
    * selected winnowing fingerprint with another document (the q124
    * detector at 20/8). The winnowing theorem makes FN structurally
    * impossible (every shared ≥27-char span plants one common
    * fingerprint in both docs), so the matrix certifies the guarantee
    * ON THE DATA — the FN row must be absent (spec-pinned) — while FP
    * counts the detector's honest price: docs sharing only a
    * 20-26-char window-min gram. Scale shape: fingerprint selection
    * is row-local; the truth side explodes raw 27-grams (at 100 TB
    * the key would be a 128-bit content hash — same plan; strings
    * keep the oracle exact here). */
  /** Session-scoped cache of the exact long-span TRUTH set (ids of
    * docs sharing a ≥`guarantee`-char substring with another doc) —
    * q183's ground truth is a corpus-version artifact like the
    * fingerprints it judges: the raw 27-gram explode that derives it
    * is the eval's dominant cost and has no reason to re-run per
    * evaluation (the [[sharedWinnowFps]] discipline; one thin id
    * column checkpointed). Hash-neutral: consumers see identical
    * rows. */
  private val winnowTruthCache = SessionArtifact[DataFrame]("winnow_truth")

  private def sharedSpanTruth(s: SparkSession, dir: String,
      guarantee: Int): DataFrame =
    winnowTruthCache(s, dir, guarantee) {
      import s.implicits._
      val tg = Tables.load(s, dir, "documents")
        .filter(length($"text") >= guarantee)
        .select($"doc_id".as("id"), explode(expr(
          s"transform(sequence(1, length(text) - ${guarantee - 1}), " +
          s"i -> substring(text, i, $guarantee))")).as("g"))
      val dupG = tg.groupBy($"g")
        .agg(count_distinct($"id").as("nd")).filter($"nd" >= 2)
      tg.join(dupG.select("g"), Seq("g"), "left_semi")
        .select($"id").distinct()
        .localCheckpoint(true)
    }

  def q183WinnowEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (k, w) = (20, 8)
    val guarantee = k + w - 1 // 27
    val docs = Tables.load(s, dir, "documents")
    val fps = sharedWinnowFps(s, dir, k, w) // session-cached at THIS (k, w)
    val dupFp = fps.groupBy($"fp")
      .agg(count_distinct($"id").as("nd")).filter($"nd" >= 2)
    val est = fps.join(dupFp.select("fp"), Seq("fp"), "left_semi")
      .select($"id").distinct()
    val truth = sharedSpanTruth(s, dir, guarantee)
    docs.select($"doc_id".as("id"))
      .join(est.withColumn("e", lit(1L)), Seq("id"), "left")
      .join(truth.withColumn("t", lit(1L)), Seq("id"), "left")
      .select(when($"e" === 1 && $"t" === 1, "TP").when($"e" === 1, "FP")
        .when($"t" === 1, "FN").otherwise("TN").as("class"))
      .groupBy($"class").agg(count(lit(1)).as("n"))
      .orderBy($"class")
  }

  val q183Sql: String =
    s"""WITH ${winnowFpsSqlFor(20, 8)},
      |dupfp AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
      |est AS (SELECT DISTINCT doc_id AS id FROM fps JOIN dupfp USING (fp)),
      |tg AS (SELECT doc_id AS id, substr(text, i, 27) AS g
      |  FROM documents, unnest(generate_series(1, length(text) - 26)) AS u(i)
      |  WHERE length(text) >= 27),
      |dupg AS (SELECT g FROM tg GROUP BY g HAVING COUNT(DISTINCT id) >= 2),
      |truth AS (SELECT DISTINCT id FROM tg JOIN dupg USING (g)),
      |cls AS (SELECT d.doc_id,
      |    CASE WHEN e.id IS NOT NULL AND t.id IS NOT NULL THEN 'TP'
      |         WHEN e.id IS NOT NULL THEN 'FP'
      |         WHEN t.id IS NOT NULL THEN 'FN' ELSE 'TN' END AS class
      |  FROM documents d LEFT JOIN est e ON d.doc_id = e.id
      |                   LEFT JOIN truth t ON d.doc_id = t.id)
      |SELECT class, COUNT(*) AS n FROM cls GROUP BY class ORDER BY class""".stripMargin

  /** q146: train/eval DECONTAMINATION report — the LLM-pipeline step
    * that keeps benchmark answers out of training data: with a
    * deterministic 10% eval slice (doc_id % 10 = 0), every TRAIN
    * document reports how many of its winnowing span fingerprints
    * ([[graft.ext.Winnowing]] — guaranteed recall for shared spans ≥
    * 11 chars) also occur anywhere in the eval slice, as an integer-ppm
    * contamination ratio plus a flag. Span-level, not whole-doc: a
    * train document that merely QUOTES an eval passage is caught, which
    * digest dedup (q18) cannot do and MinHash (q20) only catches
    * probabilistically. Docs too short for a full window (< k+w−1
    * chars) have no fingerprints and are absent — they cannot leak a
    * span. Scale shape: fingerprints are computed once
    * (document-local selection); the eval fingerprint set is
    * distinct-collapsed before the membership join; only 16-byte
    * fingerprints shuffle. */
  def q146Decontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fps = sharedWinnowFps(s, dir) // feeds the eval set AND the train rollup
    val evalFps = fps.filter($"id" % 10 === 0).select($"fp").distinct()
    fps.filter($"id" % 10 =!= 0)
      .join(evalFps.withColumn("hit", lit(1)), Seq("fp"), "left")
      .groupBy($"id")
      .agg(count(lit(1)).as("n_fp"), count($"hit").as("n_shared"))
      .select($"id".as("doc_id"), $"n_fp", $"n_shared",
        expr("n_shared * 1000000L DIV n_fp").as("contam_ppm"),
        ($"n_shared" > 0).cast("int").as("is_contaminated"))
      .orderBy($"doc_id")
  }

  val q146Sql: String =
    s"""WITH $winnowFpsSql,
      |evalf AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 = 0),
      |agg AS (SELECT t.doc_id, COUNT(*) AS n_fp,
      |    CAST(COUNT(e.fp) AS BIGINT) AS n_shared
      |  FROM (SELECT doc_id, fp FROM fps WHERE doc_id % 10 <> 0) t
      |  LEFT JOIN evalf e ON t.fp = e.fp
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_fp, n_shared,
      |  n_shared * 1000000 // n_fp AS contam_ppm,
      |  CAST(n_shared > 0 AS INT) AS is_contaminated
      |FROM agg ORDER BY doc_id""".stripMargin

  /** q146b: DECONTAMINATION with an exact-verify stage — q146's
    * span-level train/eval report made EXACT with bounded extra work,
    * at the LONG-span operating point (k = 20, w = 8 → guarantee 27)
    * where q183 measured the raw detector's honest price (TP 111 /
    * FP 331, 25% precision: docs sharing only a 20–26-char
    * window-min gram). The winnowing theorem guarantees RECALL — a
    * train doc sharing a ≥27-char span with the eval slice always
    * shares a selected fingerprint — so fingerprint candidates are a
    * SUPERSET of true contamination, and verifying ONLY candidates
    * (the q151 full-set-verify discipline) yields the exact report
    * without ever exploding all (train, eval) pairs:
    *   1. candidate fps = fingerprints present on BOTH sides;
    *   2. candidate docs = train/eval docs holding a candidate fp
    *      (both sides shrink — the eval gram set is built over
    *      candidate eval docs only, sound by the same theorem);
    *   3. exact stage: a candidate train doc is contaminated iff one
    *      of its raw 27-grams occurs in the candidate eval slice's
    *      distinct 27-gram set (collision-free string equality).
    * FN stays structurally zero (spec-pinned against the brute-force
    * truth) and FP is zero BY CONSTRUCTION — the verify stage IS the
    * exact criterion. Scale shape: the gram explode touches candidate
    * docs only; grams semi-join on their 27-char keys (at 100 TB the
    * key would be a 128-bit content hash — same plan); everything
    * else is the q146 rollup. */
  def q146bDecontamVerified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (k, w) = (20, 8)
    val guarantee = k + w - 1 // 27
    val docs = Tables.load(s, dir, "documents")
    val fps = sharedWinnowFps(s, dir, k, w)
    val evalFps = fps.filter($"id" % 10 === 0)
    val trainFps = fps.filter($"id" % 10 =!= 0)
    val hitFps = evalFps.select($"fp").distinct()
      .join(trainFps.select($"fp").distinct(), Seq("fp"), "left_semi")
    val trainCand = trainFps.join(hitFps, Seq("fp"), "left_semi")
      .select($"id").distinct()
    val evalCand = evalFps.join(hitFps, Seq("fp"), "left_semi")
      .select($"id").distinct()
    def grams(ids: DataFrame): DataFrame = docs
      .join(ids.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi")
      .filter(length($"text") >= guarantee)
      .select($"doc_id", explode(expr(
        s"transform(sequence(1, length(text) - ${guarantee - 1}), " +
          s"i -> substring(text, i, $guarantee))")).as("g"))
    val verified = grams(trainCand)
      .join(grams(evalCand).select($"g").distinct(), Seq("g"), "left_semi")
      .select($"doc_id").distinct()
    trainFps
      .join(evalFps.select($"fp").distinct().withColumn("hit", lit(1)),
        Seq("fp"), "left")
      .groupBy($"id")
      .agg(count(lit(1)).as("n_fp"), count($"hit").as("n_shared"))
      .join(verified.withColumnRenamed("doc_id", "id")
        .withColumn("v", lit(1)), Seq("id"), "left")
      .select($"id".as("doc_id"), $"n_fp", $"n_shared",
        ($"n_shared" > 0).cast("int").as("is_candidate"),
        coalesce($"v", lit(0)).cast("int").as("is_contaminated"))
      .orderBy($"doc_id")
  }

  val q146bSql: String =
    s"""WITH ${winnowFpsSqlFor(20, 8)},
      |evalf AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 = 0),
      |trainf AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 <> 0),
      |hit AS (SELECT DISTINCT t.fp FROM (SELECT DISTINCT fp FROM trainf) t
      |  JOIN (SELECT DISTINCT fp FROM evalf) e ON t.fp = e.fp),
      |tcand AS (SELECT DISTINCT doc_id FROM trainf JOIN hit USING (fp)),
      |ecand AS (SELECT DISTINCT doc_id FROM evalf JOIN hit USING (fp)),
      |eg AS (SELECT DISTINCT substr(d.text, i, 27) AS g
      |  FROM documents d JOIN ecand USING (doc_id),
      |    unnest(generate_series(1, length(d.text) - 26)) AS u(i)
      |  WHERE length(d.text) >= 27),
      |tg AS (SELECT d.doc_id, substr(d.text, i, 27) AS g
      |  FROM documents d JOIN tcand USING (doc_id),
      |    unnest(generate_series(1, length(d.text) - 26)) AS u(i)
      |  WHERE length(d.text) >= 27),
      |ver AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (g)),
      |agg AS (SELECT t.doc_id, COUNT(*) AS n_fp,
      |    CAST(COUNT(e.fp) AS BIGINT) AS n_shared
      |  FROM trainf t LEFT JOIN (SELECT DISTINCT fp FROM evalf) e
      |    ON t.fp = e.fp
      |  GROUP BY t.doc_id)
      |SELECT a.doc_id, a.n_fp, a.n_shared,
      |  CAST(a.n_shared > 0 AS INT) AS is_candidate,
      |  CAST(v.doc_id IS NOT NULL AS INT) AS is_contaminated
      |FROM agg a LEFT JOIN ver v ON a.doc_id = v.doc_id
      |ORDER BY a.doc_id""".stripMargin

  /** q136: market-basket association rules — co-purchase (part, part)
    * pairs within orders, with support, integer-ppm confidence
    * (`n_ab·10^6 DIV n_a`), and lift kept as the EXACT rational pair
    * (`lift_num = n_ab·N` vs `lift_den = n_a·n_b` — the q104
    * collocation discipline, no float in the gated surface). The
    * transactional twin of q104's adjacency collocations: baskets are
    * unordered sets, so pairs emit once per order with pk_a < pk_b and
    * BOTH rule directions are reported. Scale shape: baskets are
    * bounded (≤ 7 items per TPC-H order), so the within-order pair
    * explode is linear in lineitems — never a parts×parts join; the
    * order count is one scalar broadcast. Support ≥ 3 prunes the
    * singleton tail. */
  def q136BasketRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      .localCheckpoint(true) // feeds pair join, item counts, and N
    val nOrders = li.select($"ok").distinct().count()
    val items = li.groupBy($"pk").agg(count(lit(1)).as("n_i"))
    val pairs = li.as("a").join(li.as("b"), "ok")
      .filter($"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("pk_a"), $"b.pk".as("pk_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 3)
    val both = pairs.unionByName(
      pairs.select($"pk_b".as("pk_a"), $"pk_a".as("pk_b"), $"n_ab"))
    both
      .join(items.select($"pk".as("pk_a"), $"n_i".as("n_a")), "pk_a")
      .join(items.select($"pk".as("pk_b"), $"n_i".as("n_b")), "pk_b")
      .select($"pk_a", $"pk_b", $"n_ab", $"n_a", $"n_b",
        expr("n_ab * 1000000L DIV n_a").as("conf_ppm"),
        ($"n_ab" * lit(nOrders)).as("lift_num"),
        ($"n_a" * $"n_b").as("lift_den"))
      .orderBy($"pk_a", $"pk_b")
  }

  val q136Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
      |items AS (SELECT pk, COUNT(*) AS n_i FROM li GROUP BY pk),
      |p0 AS (SELECT a.pk AS pk_a, b.pk AS pk_b, COUNT(*) AS n_ab
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |bidir AS (SELECT pk_a, pk_b, n_ab FROM p0
      |  UNION ALL SELECT pk_b, pk_a, n_ab FROM p0)
      |SELECT pk_a, pk_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
      |  n_ab * 1000000 // ia.n_i AS conf_ppm,
      |  CAST(n_ab * n.n_orders AS BIGINT) AS lift_num,
      |  CAST(ia.n_i * ib.n_i AS BIGINT) AS lift_den
      |FROM bidir JOIN items ia ON bidir.pk_a = ia.pk
      |          JOIN items ib ON bidir.pk_b = ib.pk
      |          CROSS JOIN n
      |ORDER BY pk_a, pk_b""".stripMargin

  /** q171: per-source score calibration — every scored document mapped
    * to its within-source AND corpus-global ECDF position (exact
    * integer ppm over [[SurprisalScore.CalibW]]-wide score buckets)
    * plus the calibration gap between the two. Scores from different
    * sources are NOT comparable raw (a source full of boilerplate
    * scores uniformly low-surprisal); the gap column is what a mixing
    * pipeline consults before applying one corpus-wide quality
    * threshold across heterogeneous sources (the per-language
    * normalization of CCNet, Wenzek et al. 2020, generalized to
    * sources). Scale shape: one corpus aggregation to a
    * (sources × buckets)-bounded histogram, cumulative windows over
    * those few rows, broadcast join back — no per-source corpus sort;
    * the serving table is the offline artifact of the train/serve
    * split ([[graft.streaming.Streaming.calibrationStream]] consumes
    * it statically). */
  /** Session-scoped cache of the per-doc calibration frame (q171's
    * exact output shape, thin: 7 ints/doc) — q171, q172 and the
    * mixTagged chain (q175/q181) all read ONE eagerly checkpointed
    * materialization instead of each re-running the bucket histogram +
    * ECDF walk (the [[sharedSurprisal]] discipline one layer up). */
  private val calibFrameCache = SessionArtifact[DataFrame]("calib_frame")

  private[queries] def sharedCalibration(s: SparkSession, dir: String): DataFrame =
    calibFrameCache(s, dir) {
      val perDoc = sharedSurprisal(s, dir)
      SurprisalScore.sourceCalibrationFrom(perDoc,
          Tables.load(s, dir, "documents"), "doc_id", "source")
        .localCheckpoint(true)
    }

  def q171ScoreCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedCalibration(s, dir).orderBy($"doc_id")
  }

  /** q172: the calibrated cross-source quality GATE — the decision
    * layer over q171 (score → keep/drop): per source, how many
    * documents survive (a) the RAW policy "global ECDF position in the
    * better half" (glob_pct_ppm < 500000 — one corpus-wide threshold
    * applied to raw scores) vs (b) the CALIBRATED policy "within-source
    * better half" (src_pct_ppm < 500000), plus the swing between them.
    * A source whose text is systematically well-modeled (boilerplate)
    * sails through the raw gate and starves everyone else; the
    * calibrated gate keeps each source's own best half, which is the
    * budget-preserving mix a curation pipeline actually wants (CCNet's
    * per-language split, applied at the keep/drop decision). Row-local
    * integer comparisons over q171's output — the whole query adds ONE
    * aggregation to sources-bounded rows. */
  def q172CalibratedGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedCalibration(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"glob_pct_ppm" < 500000).cast("long")).as("n_raw_keep"),
        sum(($"src_pct_ppm" < 500000).cast("long")).as("n_calib_keep"))
      .withColumn("swing", $"n_calib_keep" - $"n_raw_keep")
      .orderBy($"source")
  }

  val q172Sql: String =
    s"""WITH $calibCtesSql,
      |$globalCalibCtesSql
      |SELECT b.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN gp.glob_pct_ppm < 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_raw_keep,
      |  CAST(SUM(CASE WHEN sp.src_pct_ppm < 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_calib_keep,
      |  CAST(SUM(CASE WHEN sp.src_pct_ppm < 500000 THEN 1 ELSE 0 END)
      |     - SUM(CASE WHEN gp.glob_pct_ppm < 500000 THEN 1 ELSE 0 END) AS BIGINT) AS swing
      |FROM b JOIN sp ON b.source = sp.source AND b.bkt = sp.bkt
      |       JOIN gp ON b.bkt = gp.bkt
      |GROUP BY b.source
      |ORDER BY b.source""".stripMargin

  val q171Sql: String =
    s"""WITH $calibCtesSql,
      |$globalCalibCtesSql
      |SELECT b.doc_id, b.source, b.mb, b.bkt, sp.src_pct_ppm, gp.glob_pct_ppm,
      |  sp.src_pct_ppm - gp.glob_pct_ppm AS gap_ppm
      |FROM b JOIN sp ON b.source = sp.source AND b.bkt = sp.bkt
      |       JOIN gp ON b.bkt = gp.bkt
      |ORDER BY b.doc_id""".stripMargin

  /** Session-scoped cache of the PERSISTED calibration registry: the
    * bigram LM (vocabulary-sized) and the (source, bucket) calibration
    * table — the two offline artifacts the calibrated-gate serving
    * path needs — trained once per (session, dir), written to parquet,
    * and handed back as LAZY scans (the q174 model-registry discipline
    * applied to the quality-calibration stack; with this, every
    * serving artifact in the engine persists: vectors q165, LSH q173,
    * NB q174, calibration here). */
  private val calibRegistryCache = SessionArtifact[(DataFrame, DataFrame)]("calib_registry")

  private[queries] def sharedPersistedCalibRegistry(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    calibRegistryCache(s, dir) {
      val docs = Tables.load(s, dir, "documents")
      val lm = SurprisalScore.bigramModel(docs, "doc_id", "text")
      val scored = SurprisalScore.bucketedScoresFrom(
        sharedSurprisal(s, dir), docs, "doc_id", "source")
      val calib = SurprisalScore.calibrationTable(scored, "source")
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val fp = docs.agg(expr("bit_xor(doc_id)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "calib_registry", fp,
        Seq("lm" -> lm, "calib" -> calib))
      (reg.read(s, root, "calib_registry", v, "lm"),
        reg.read(s, root, "calib_registry", v, "calib"))
    }

  /** q176: calibrated-gate SERVING from the loaded registry — the
    * arrival slice (doc_id % 10 = 0) scores itself against the LOADED
    * bigram LM (explode + equi-join + one per-doc fold — the
    * [[graft.streaming.Streaming.calibrationStream]] plan shape in
    * batch) and takes its within-source ppm rank and keep verdict from
    * the LOADED calibration table; no training code on the execution
    * path. The oracle retrains the whole chain from raw tables, so the
    * green hash certifies both artifacts' storage round trips
    * bit-lossless. Serving cost per batch: one vocabulary-sized join +
    * one roll-up + one broadcast lookup. */
  def q176PersistedCalibServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (lm, calib) = sharedPersistedCalibRegistry(s, dir)
    val docs = Tables.load(s, dir, "documents").filter($"doc_id" % 10 === 0)
    val occ = docs
      .select($"doc_id", $"source",
        graft.functions.TextFunctions.tokens($"text").as("t"))
      .select($"doc_id", $"source",
        explode(SurprisalScore.bigramArray($"t")).as("g"))
    occ.join(lm, Seq("g"))
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin($"n_total")).cast("long") - length(bin($"c")).cast("long"))
          .as("surprisal_bits"))
      .withColumn("mb", expr("surprisal_bits * 1000 DIV n_bigrams"))
      .withColumn("bkt", expr(s"mb DIV ${SurprisalScore.CalibW}"))
      .join(broadcast(calib), Seq("source", "bkt"))
      .select($"doc_id", $"source", $"mb", $"bkt", $"src_pct_ppm",
        ($"src_pct_ppm" < 500000).cast("int").as("cal_keep"))
      .orderBy($"doc_id")
  }

  val q176Sql: String =
    s"""WITH $calibCtesSql
      |SELECT b.doc_id, b.source, b.mb, b.bkt, sp.src_pct_ppm,
      |  CASE WHEN sp.src_pct_ppm < 500000 THEN 1 ELSE 0 END AS cal_keep
      |FROM b JOIN sp ON b.source = sp.source AND b.bkt = sp.bkt
      |WHERE b.doc_id % 10 = 0
      |ORDER BY b.doc_id""".stripMargin

  /** q175: the release MIXING PLAN — the deterministic synthesis a
    * corpus release actually ships: per source, how many documents it
    * contributed, how many survive exact dedup (first-occurrence
    * content-digest owner — a duplicate crawled by two sources counts
    * ONCE, for the source that owns its digest), how many of those
    * survivors pass the calibrated quality gate (q172's within-source
    * better half), the unique-kept token mass, and the source's
    * sampling weight in ppm — token mass normalized over the total, the
    * proportional-to-unique-quality-content weighting (the degenerate
    * but auditable point DoReMi-style optimizers start from; Xie et
    * al. 2023). All integers end-to-end. Scale shape: one row-local
    * scan (digest + token count), one digest-keyed min-owner
    * aggregation, the calibration broadcast join, ONE sources-bounded
    * aggregation + a one-row total broadcast — nothing corpus-sized
    * ever sits in one partition. Docs the surprisal scorer cannot rank
    * (< 2 tokens) fail the gate by definition (no evidence). */
  /** Per-doc release tags shared by q175 (the plan) and q181 (the
    * materialized sample): (doc_id, source, n_tokens, is_uniq,
    * cal_keep) — exact-dedup first-ownership plus the calibrated-gate
    * verdict, computed ONCE so the two queries cannot fork. */
  private val mixTagCache = SessionArtifact[DataFrame]("mix_tag")

  private def mixTagged(s: SparkSession, dir: String): DataFrame =
    mixTagCache(s, dir) {
      import s.implicits._
      val calib = sharedCalibration(s, dir)
      val docs = Tables.load(s, dir, "documents")
      val base = docs.select($"doc_id", $"source",
        graft.functions.TextFunctions.contentHash($"text").as("h"),
        size(graft.functions.TextFunctions.tokens($"text")).cast("long").as("n_tokens"))
      val owners = base.groupBy($"h").agg(min($"doc_id").as("owner"))
      val keep = calib
        .select($"doc_id", ($"src_pct_ppm" < 500000).cast("long").as("cal_keep"))
      base.join(owners, Seq("h"))
        .withColumn("is_uniq", ($"doc_id" === $"owner").cast("long"))
        .join(keep, Seq("doc_id"), "left")
        .withColumn("cal_keep", coalesce($"cal_keep", lit(0L)))
        .select($"doc_id", $"source", $"n_tokens", $"is_uniq", $"cal_keep")
        .localCheckpoint(true)
    }

  def q175MixingPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perSrc = mixTagged(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"is_uniq").as("n_unique"),
        sum($"is_uniq" * $"cal_keep").as("n_kept_unique"),
        sum($"is_uniq" * $"cal_keep" * $"n_tokens").as("tok_kept_unique"))
    perSrc
      .crossJoin(broadcast(perSrc.agg(sum($"tok_kept_unique").as("tot_tok"))))
      .select($"source", $"n_docs", $"n_unique", $"n_kept_unique",
        $"tok_kept_unique",
        // DECIMAL(38,0) numerator: tok·10⁶ exceeds 2^63 past ~9×10¹²
        // kept tokens (the Bm25.contribExpr discipline); DIV result
        // is ppm-bounded, back in long
        expr("CAST(tok_kept_unique AS DECIMAL(38,0)) * 1000000 DIV tot_tok")
          .as("weight_ppm"))
      .orderBy($"source")
  }

  /** DuckDB replay of the shared per-doc release tags (through the
    * `tagged` CTE) — q175 and q181 build on the same chain so the
    * dedup-ownership + calibration recipe cannot fork. */
  private val mixTaggedSql: String =
    s"""$calibCtesSql,
      |kp AS (SELECT b.doc_id,
      |    CASE WHEN sp.src_pct_ppm < 500000 THEN 1 ELSE 0 END AS cal_keep
      |  FROM b JOIN sp ON b.source = sp.source AND b.bkt = sp.bkt),
      |base AS (SELECT doc_id, source, md5(lower(trim(text))) AS h,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents),
      |own AS (SELECT h, MIN(doc_id) AS owner FROM base GROUP BY h),
      |tagged AS (SELECT base.doc_id, base.source,
      |    CASE WHEN base.doc_id = own.owner THEN 1 ELSE 0 END AS is_uniq,
      |    COALESCE(kp.cal_keep, 0) AS cal_keep, base.n_tokens
      |  FROM base JOIN own USING (h) LEFT JOIN kp USING (doc_id))""".stripMargin

  val q175Sql: String =
    s"""WITH $mixTaggedSql,
      |per AS (SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(is_uniq) AS BIGINT) AS n_unique,
      |    CAST(SUM(is_uniq * cal_keep) AS BIGINT) AS n_kept_unique,
      |    CAST(SUM(is_uniq * cal_keep * n_tokens) AS BIGINT) AS tok_kept_unique
      |  FROM tagged GROUP BY source),
      |tot AS (SELECT CAST(SUM(tok_kept_unique) AS BIGINT) AS tot_tok FROM per)
      |SELECT source, n_docs, n_unique, n_kept_unique, tok_kept_unique,
      |  CAST(CAST(tok_kept_unique AS HUGEINT) * 1000000 // tot_tok AS BIGINT) AS weight_ppm
      |FROM per CROSS JOIN tot
      |ORDER BY source""".stripMargin

  /** q181: mixing-plan MATERIALIZATION — turn q175's per-source weights
    * into an actual deterministic document sample, the step that ships
    * a dataset rather than a table of intentions. Policy (all integer,
    * replayable): smooth the weights halfway toward uniform
    * (`sm_ppm = (weight_ppm + 10⁶/n_src) / 2` — the standard
    * interpolation that boosts small sources without a transcendental
    * temperature power), spend a half-budget
    * (`tot_tok DIV 2` tokens) proportionally to the smoothed weights,
    * convert each source's token target into a keep-rate over its
    * kept-unique pool (capped at 100%), and decide each candidate doc
    * by the engine-wide avalanched-hash point ([[graft.ext.Mixing.keyBp]]
    * — same hash as every other sampler, so samples nest across rate
    * sweeps). Output is the per-source audit: rates, candidates,
    * sampled docs and sampled token mass. Scale shape: the per-doc
    * tags computed once ([[mixTagged]]), a sources-bounded rate table
    * broadcast back, the keep decision a pure row-local filter — the
    * sample itself never shuffles. */
  def q181MixMaterialize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val tagged = mixTagged(s, dir) // session-cached, already checkpointed
    val perSrc = tagged.groupBy($"source")
      .agg(sum($"is_uniq" * $"cal_keep" * $"n_tokens").as("tok_kept_unique"))
    val tot = perSrc.agg(sum($"tok_kept_unique").as("tot_tok"))
    val nsrc = perSrc.agg(count(lit(1)).as("n_src"))
    val rates = perSrc.crossJoin(broadcast(tot)).crossJoin(broadcast(nsrc))
      // every count×scale product runs in DECIMAL(38,0): tok·10⁶,
      // (tot/2)·sm_ppm and tgt·10⁴ all pass 2^63 between 10¹³ and
      // 10¹⁵ corpus tokens (the Bm25.contribExpr discipline); each
      // DIV lands back in a long-ranged value
      .withColumn("weight_ppm",
        expr("CAST(tok_kept_unique AS DECIMAL(38,0)) * 1000000 DIV tot_tok"))
      .withColumn("sm_ppm", expr("(weight_ppm + 1000000 DIV n_src) DIV 2"))
      .withColumn("tgt_tok",
        expr("CAST(tot_tok DIV 2 AS DECIMAL(38,0)) * sm_ppm DIV 1000000"))
      .withColumn("rate_bp", when($"tok_kept_unique" > 0,
        least(lit(10000L),
          expr("CAST(tgt_tok AS DECIMAL(38,0)) * 10000 DIV tok_kept_unique")))
        .otherwise(lit(0L)))
      .select($"source", $"weight_ppm", $"sm_ppm", $"rate_bp")
    tagged.filter($"is_uniq" === 1 && $"cal_keep" === 1)
      .join(broadcast(rates), "source")
      .withColumn("kept",
        (graft.ext.Mixing.keyBp($"doc_id") < $"rate_bp").cast("long"))
      .groupBy($"source", $"weight_ppm", $"sm_ppm", $"rate_bp")
      .agg(count(lit(1)).as("n_candidates"),
        sum($"kept").as("n_sampled"),
        sum($"kept" * $"n_tokens").as("tok_sampled"))
      .orderBy($"source")
  }

  val q181Sql: String =
    s"""WITH $mixTaggedSql,
      |per AS (SELECT source,
      |    CAST(SUM(is_uniq * cal_keep * n_tokens) AS BIGINT) AS tok_kept_unique
      |  FROM tagged GROUP BY source),
      |tot AS (SELECT CAST(SUM(tok_kept_unique) AS BIGINT) AS tot_tok FROM per),
      |ns AS (SELECT COUNT(*) AS n_src FROM per),
      |r1 AS (SELECT source, tok_kept_unique, tot_tok, n_src,
      |    CAST(CAST(tok_kept_unique AS HUGEINT) * 1000000 // tot_tok AS BIGINT) AS weight_ppm
      |  FROM per CROSS JOIN tot CROSS JOIN ns),
      |r2 AS (SELECT *, CAST((weight_ppm + 1000000 // n_src) // 2 AS BIGINT) AS sm_ppm FROM r1),
      |r3 AS (SELECT *, CAST(CAST(tot_tok // 2 AS HUGEINT) * sm_ppm // 1000000 AS BIGINT) AS tgt_tok FROM r2),
      |r4 AS (SELECT source, weight_ppm, sm_ppm,
      |    CAST(CASE WHEN tok_kept_unique > 0
      |      THEN LEAST(10000, CAST(tgt_tok AS HUGEINT) * 10000 // tok_kept_unique) ELSE 0 END AS BIGINT) AS rate_bp
      |  FROM r3),
      |cand AS (SELECT doc_id, source, n_tokens FROM tagged WHERE is_uniq = 1 AND cal_keep = 1),
      |hk AS (SELECT doc_id, source, n_tokens,
      |    (${AnalyticsQueries.polyhashSql("CAST(doc_id AS VARCHAR)")}
      |      * 1103515245 + 12345) % 2147483648 AS __a,
      |    ${AnalyticsQueries.keyBp2Sql("__a")} AS hk FROM cand),
      |sel AS (SELECT hk.source, r4.weight_ppm, r4.sm_ppm, r4.rate_bp, hk.n_tokens,
      |    CASE WHEN hk.hk < r4.rate_bp THEN 1 ELSE 0 END AS kept
      |  FROM hk JOIN r4 USING (source))
      |SELECT source, weight_ppm, sm_ppm, rate_bp, COUNT(*) AS n_candidates,
      |  CAST(SUM(kept) AS BIGINT) AS n_sampled,
      |  CAST(SUM(kept * n_tokens) AS BIGINT) AS tok_sampled
      |FROM sel GROUP BY source, weight_ppm, sm_ppm, rate_bp
      |ORDER BY source""".stripMargin

  /** Distributed top-n ranking: `orderBy(...).limit(n)` plans
    * `TakeOrderedAndProject` (per-partition heaps merged on the
    * driver, never a global sort), then the ≤ n survivors get dense
    * 1-based ranks from a window over a constant-size input. */
  private def topRanked(df: DataFrame, n: Int, ord: Column*): DataFrame =
    df.orderBy(ord: _*).limit(n)
      .withColumn("rank",
        row_number().over(Window.orderBy(ord: _*)).cast("long"))

  /** q188: quality-ensemble consensus ranking — three incomparable
    * quality signals fused with reciprocal-rank fusion
    * ([[graft.ext.Rrf]], the q142 retrieval discipline applied to
    * CURATION): a corpus doesn't have one quality score, it has a
    * perplexity filter (CCNet), a repetition gate (Gopher), and a
    * learned classifier (DCLM), each on its own scale. Per signal a
    * corpus-wide top-100 ranking (ties broken by doc_id):
    *   - surprisal: q86's integer millibits-per-bigram, ascending
    *     (well-modeled text first), from the session-shared scores;
    *   - repetition: within-doc duplicate-3-gram rate in integer ppm
    *     ascending, from q65's stats;
    *   - nb: the PERSISTED q169 classifier's score_bits descending —
    *     the ensemble's learned member arrives from the model
    *     registry ([[TextQueries.sharedPersistedNbModel]]), not from
    *     in-plan training.
    * RRF then scores each candidate Σ 10⁶ DIV (60 + rank) in exact
    * fixed point and keeps the consensus top-50 with every member's
    * rank attached (NULL = unranked by that signal) — the
    * "documents every signal agrees are gold" shortlist a curation
    * run audits first.
    *
    * Scale shape: each signal reduces corpus → 100 rows via
    * TakeOrderedAndProject (no global sort, no corpus-wide window);
    * the fusion join and final re-rank touch ≤ 300 rows total. */
  def q188QualityEnsemble(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val n = 100
    val docs = Tables.load(s, dir, "documents")
    // ties broken by the engine-wide avalanched hash, NOT by doc_id: a
    // signal that saturates at its good end (most docs have ZERO
    // duplicate trigrams) would otherwise fill its list with the 100
    // lowest ids and bias the consensus toward early documents
    def hk(df: DataFrame) = df.withColumn("hk",
      graft.ext.Mixing.shuffleKey(lit("rrf"), col("id")))
    val sur = hk(sharedSurprisal(s, dir).filter($"n_bigrams" > 0)
      .select($"id", $"millibits_per_gram"))
    val rep = hk(graft.ext.Repetition
      .ngramRepetitionStatsLocal(docs, "doc_id", "text")
      .filter($"n3_total" > 0)
      .select($"id",
        expr("(n3_total - n3_distinct) * 1000000L DIV n3_total").as("rep_ppm")))
    val (w, g) = TextQueries.sharedPersistedNbModel(s, dir)
    val nb = hk(graft.ext.NbClassifier.score(docs, "doc_id", "text", w, g)
      .select($"id", $"score_bits"))
    def asList(df: DataFrame) =
      df.select(lit("corpus").as("qid"), $"id", $"rank")
    graft.ext.Rrf.fuse(Seq(
        "surprisal" -> asList(topRanked(sur, n,
          $"millibits_per_gram".asc, $"hk".asc, $"id".asc)),
        "repetition" -> asList(topRanked(rep, n,
          $"rep_ppm".asc, $"hk".asc, $"id".asc)),
        "nb" -> asList(topRanked(nb, n,
          $"score_bits".desc, $"hk".asc, $"id".asc))),
        topK = 50)
      .select($"rank", $"id".as("doc_id"), $"rrf_fp",
        $"r_surprisal", $"r_repetition", $"r_nb")
      .orderBy($"rank")
  }

  val q188Sql: String =
    s"""WITH ${TextQueries.gateCtesSql},
      |${TextQueries.nbTrainCtesSql},
      |hk0 AS (SELECT doc_id, ${AnalyticsQueries.polyhashSql(
          "('rrf:' || CAST(doc_id AS VARCHAR))")} AS ph FROM documents),
      |hk1 AS (SELECT doc_id, (ph * 1103515245 + 12345) % 2147483648 AS a FROM hk0),
      |hkt AS (SELECT doc_id, (xor(a, a // 65536) * 69069 + 1) % 2147483648 AS hk FROM hk1),
      |aocc AS (SELECT doc_id, unnest(t) AS tok FROM toks),
      |ws AS (SELECT a.doc_id, CAST(SUM(COALESCE(w.w_bits, 0)) AS BIGINT) AS w_sum
      |  FROM aocc a LEFT JOIN w USING (tok) GROUP BY a.doc_id),
      |sc AS (SELECT b.doc_id,
      |    CAST(p.prior_bits + len(b.t) * p.d_bits + COALESCE(s.w_sum, 0) AS BIGINT)
      |      AS score_bits
      |  FROM toks b LEFT JOIN ws s USING (doc_id), pri p),
      |nbr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_bits DESC, hk, doc_id) AS BIGINT) AS r
      |  FROM sc JOIN hkt USING (doc_id) QUALIFY r <= 100),
      |${surprisalCtesSqlFor("s")},
      |surr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY mbpg ASC, hk, doc_id) AS BIGINT) AS r
      |  FROM srate JOIN hkt USING (doc_id) QUALIFY r <= 100),
      |rg3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g FROM stoks),
      |rc3 AS (SELECT doc_id, g, COUNT(*) AS c FROM rg3 GROUP BY doc_id, g),
      |rs3 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n3_total,
      |    CAST(COUNT(*) AS BIGINT) AS n3_distinct FROM rc3 GROUP BY doc_id),
      |rrate AS (SELECT doc_id, (n3_total - n3_distinct) * 1000000 // n3_total AS rep_ppm
      |  FROM rs3 WHERE n3_total > 0),
      |repr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY rep_ppm ASC, hk, doc_id) AS BIGINT) AS r
      |  FROM rrate JOIN hkt USING (doc_id) QUALIFY r <= 100),
      |ids AS (SELECT doc_id FROM surr UNION SELECT doc_id FROM repr
      |  UNION SELECT doc_id FROM nbr),
      |fused AS (SELECT i.doc_id,
      |    CAST(COALESCE(1000000 // (60 + s.r), 0) + COALESCE(1000000 // (60 + rp.r), 0)
      |       + COALESCE(1000000 // (60 + nb.r), 0) AS BIGINT) AS rrf_fp,
      |    s.r AS r_surprisal, rp.r AS r_repetition, nb.r AS r_nb
      |  FROM ids i LEFT JOIN surr s USING (doc_id)
      |    LEFT JOIN repr rp USING (doc_id) LEFT JOIN nbr nb USING (doc_id))
      |SELECT CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, rrf_fp, r_surprisal, r_repetition, r_nb
      |FROM fused QUALIFY rank <= 50 ORDER BY rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q188_quality_ensemble" -> (q188QualityEnsemble _),
    "q136_basket_rules" -> (q136BasketRules _),
    "q175_mixing_plan" -> (q175MixingPlan _),
    "q181_mix_materialize" -> (q181MixMaterialize _),
    "q176_persisted_calib_serve" -> (q176PersistedCalibServe _),
    "q171_score_calibration" -> (q171ScoreCalibration _),
    "q172_calibrated_gate" -> (q172CalibratedGate _),
    "q86_surprisal" -> (q86Surprisal _),
    "q158_ccnet_buckets" -> (q158CcnetBuckets _),
    "q87_hard_negatives" -> (q87HardNegatives _),
    "q89_best_rep" -> (q89BestRep _),
    "q91_group_hll" -> (q91GroupHll _),
    "q114_sliding_hll" -> (q114SlidingHll _),
    "q124_winnowing" -> (q124Winnowing _),
    "q183_winnow_eval" -> (q183WinnowEval _),
    "q141_group_sliding_hll" -> (q141GroupSlidingHll _),
    "q141c_group_sliding_hll_only" -> (q141cGroupSlidingHllOnly _),
    "q146_decontam" -> (q146Decontam _),
    "q146b_decontam_verified" -> (q146bDecontamVerified _))

  val oracle: Map[String, String] = Map(
    "q188_quality_ensemble" -> q188Sql,
    "q136_basket_rules" -> q136Sql,
    "q171_score_calibration" -> q171Sql,
    "q172_calibrated_gate" -> q172Sql,
    "q175_mixing_plan" -> q175Sql,
    "q181_mix_materialize" -> q181Sql,
    "q176_persisted_calib_serve" -> q176Sql,
    "q86_surprisal" -> q86Sql,
    "q158_ccnet_buckets" -> q158Sql,
    "q87_hard_negatives" -> q87Sql,
    "q89_best_rep" -> q89Sql,
    "q91_group_hll" -> q91Sql,
    "q114_sliding_hll" -> q114Sql,
    "q124_winnowing" -> q124Sql,
    "q183_winnow_eval" -> q183Sql,
    "q141_group_sliding_hll" -> q141Sql,
    "q141c_group_sliding_hll_only" -> q141cSql,
    "q146_decontam" -> q146Sql,
    "q146b_decontam_verified" -> q146bSql)
}
