package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{HeavyHitters, Hll, KMeansInt, PassageDedup, Quantize}

/** Sketches and training loops: integer k-means IVF training (q77),
  * HyperLogLog distinct registers (q78), repeated-passage dedup with
  * document reconstruction (q79), and Misra-Gries heavy hitters with
  * exact recount (q80). The sketch ops are the constant-state,
  * merge-friendly summaries a 100 TB pipeline uses instead of full
  * shuffles; each is arranged so its OUTPUT is exact/deterministic
  * (integer registers, guaranteed-superset candidates + recount) and
  * hence oracle-checkable.
  */
object SketchQueries {

  /** The vector-index training chain, shared across the k-means/PQ
    * family: q77 and q110's coarse quantizer run the IDENTICAL full-dim
    * k=8 Lloyd fit over the same SQ8 codes, and q107/q108 train the SAME
    * four per-subspace codebooks — without sharing, each query retrains
    * from scratch, the dominant cost of the family (q107+q108+q110 =
    * the top of the warm bench). Artifacts: the eagerly checkpointed
    * codes (n×64 longs), the full-dim fit, the subspace fits, and the
    * IVF-PQ index — all bounded by the embeddings table, hash-neutral
    * (deterministic training: same input → same fixed point). */
  private val codesCache = SessionArtifact[DataFrame]("sq8_codes")
  private val fullFitCache = SessionArtifact[KMeansInt.FitResult]("kmeans_fullfit")
  private val subFitsCache = SessionArtifact[IndexedSeq[KMeansInt.FitResult]]("pq_subfits")
  private val ivfPqCache = SessionArtifact[IvfPq]("ivfpq")
  private val persistedIvfPqCache = SessionArtifact[IvfPq]("ivfpq_persisted")
  private val oldSubFitsCache = SessionArtifact[IndexedSeq[KMeansInt.FitResult]]("pq_subfits_old")
  private val frozenBooksCache = SessionArtifact[DataFrame]("pq_books_old_persisted")
  private val oldFullFitCache = SessionArtifact[KMeansInt.FitResult]("kmeans_fullfit_old")
  private val oldIvfPqCache = SessionArtifact[IvfPq]("ivfpq_old")
  private val oldPersistedIvfPqCache = SessionArtifact[IvfPq]("ivfpq_old_persisted")
  private val compactedIvfPqCache = SessionArtifact[IvfPq]("ivfpq_old_v2_persisted")
  private val ivfPqRegistryCache = SessionArtifact[(IvfPq, Long, Long)]("ivfpq_registry")

  /** (coarse, asg, books, enc) — the IVF-PQ index parts. */
  private[queries] type IvfPq = (DataFrame, DataFrame, DataFrame, DataFrame)

  /** The SQ8 code matrix, materialized once per (session, dir): the
    * corpus min/max pass behind the codes runs once, not once per
    * consumer training stage. */
  private[queries] def sharedCodes(s: SparkSession, dir: String): DataFrame =
    codesCache(s, dir) {
      Quantize.sq8Codes(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .localCheckpoint(true)
    }

  /** The full-dim k=8 converged fit shared by q77 (as the query result)
    * and q110 (as the IVF coarse quantizer). */
  private[queries] def sharedFullFit(s: SparkSession, dir: String): KMeansInt.FitResult =
    fullFitCache(s, dir) {
      KMeansInt.fitConvergedAssign(sharedCodes(s, dir),
        k = graft.ext.ProductQuantize.CoarseK, maxRounds = KMeansInt.MaxRounds)
    }

  /** The four per-subspace PQ fits shared by q107 (encode + recon
    * error) and q108 (codebooks + compressed corpus). */
  private[queries] def sharedSubFits(s: SparkSession, dir: String)
      : IndexedSeq[KMeansInt.FitResult] =
    subFitsCache(s, dir) {
      graft.ext.ProductQuantize.subspaceFits(sharedCodes(s, dir))
    }

  /** The full IVF-PQ index (coarse, asg, residual books, compressed
    * residual corpus), built on the shared coarse fit. */
  private[queries] def sharedIvfPqIndex(s: SparkSession, dir: String): IvfPq =
    ivfPqCache(s, dir) {
      val codes = sharedCodes(s, dir)
      graft.ext.ProductQuantize.ivfPqIndexFrom(codes, sharedFullFit(s, dir))
    }

  /** The PERSISTED IVF-PQ index: written to parquet once per
    * (session, dir) and handed back as LOADED lazy scans — executing a
    * probe against the returned frames reads parquet and touches no
    * training code path (the ingest-vs-serving split of
    * [[graft.ext.VectorIndexStore]]). */
  private[queries] def sharedPersistedIvfPq(s: SparkSession, dir: String): IvfPq =
    persistedIvfPqCache(s, dir) {
      val idx = sharedIvfPqIndex(s, dir)
      val path = graft.ext.VectorIndexStore.defaultPath(dir, "ivfpq")
      graft.ext.VectorIndexStore.writeIvfPq(idx, path)
      graft.ext.VectorIndexStore.readIvfPq(s, path)
    }

  /** The four per-subspace PQ fits trained ONLY on the standing corpus
    * (vec_id % 10 ≠ 0) — the frozen codebooks q166's new-arrival batch
    * (vec_id % 10 = 0) is encoded against. Deliberately NOT derived
    * from [[sharedSubFits]]: frozen-codebook semantics require books
    * that never saw the new vectors. */
  private[queries] def sharedOldSubFits(s: SparkSession, dir: String)
      : IndexedSeq[KMeansInt.FitResult] =
    oldSubFitsCache(s, dir) {
      graft.ext.ProductQuantize.subspaceFits(sharedCodes(s, dir).filter(col("id") % 10 =!= 0))
    }

  /** q77: k-means (k=8) over int8 quantization codes, trained to the
    * EXACT assignment-set fixed point ([[KMeansInt.fitConvergedAssign]]
    * — zero changed assignments, THROW past MaxRounds) — the IVF
    * coarse-quantizer training step with a data-driven stop instead of
    * a fixed unroll. Integer squared-L2, floor mean updates, argmin
    * ties to the smaller cluster: bit-exact across engines and across
    * re-runs, which float k-means cannot be. The oracle unrolls
    * exactly MaxRounds rounds; past the fixed point each is a no-op,
    * so the replay matches at every convergence depth the engine can
    * reach. */
  def q77Kmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedFullFit(s, dir)
      .assignment
      .select($"id".as("vec_id"), $"cluster", $"dist2")
      .orderBy($"vec_id")
  }

  /** SQ8 code CTEs (v/mm/mma/codes — emits `codes(vec_id, cs)`) shared
    * verbatim between q77 and q107: the int8 quantization the codebooks
    * train on must never fork between the two oracles. */
  private[queries] val sq8CodesSql: String =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |mm AS (SELECT d, min(e[d]) AS mn, max(e[d]) AS mx
      |       FROM v, generate_series(1, 64) AS t(d) GROUP BY d),
      |mma AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM mm),
      |codes AS MATERIALIZED (SELECT vec_id,
      |  list_transform(generate_series(1, 64),
      |    d -> CASE WHEN mxs[d] = mns[d] THEN CAST(0 AS BIGINT)
      |         ELSE CAST(round((e[d] - mns[d]) * 255.0 / (mxs[d] - mns[d])) AS BIGINT) END) AS cs
      |  FROM v, mma)""".stripMargin

  val q77Sql: String =
    s"""WITH $sq8CodesSql,
      |$seedCandSql,
      |${lloydChainSql("q",
        "SELECT vec_id AS id, d, cs[d] AS c FROM codes, generate_series(1, 64) AS t(d)")}
      |SELECT id AS vec_id, cluster, CAST(dist2 AS BIGINT) AS dist2
      |FROM fq ORDER BY vec_id""".stripMargin

  /** q78: HyperLogLog distinct sketch of l_partkey (m=256) — register
    * build + raw estimate + the exact distinct count for comparison.
    * The harmonic denominator travels as an exact integer. */
  def q78Hll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
    val est = Hll.estimate(Hll.registers(li, $"l_partkey"))
    val exact = li.agg(countDistinct($"l_partkey").as("n_exact"))
    est.crossJoin(broadcast(exact))
  }

  // register chain + estimate expression shared with q82 (the hash
  // chain and alpha formula must never fork between the two oracles)
  val q78Sql: String =
    s"""WITH ${AnalyticsQueries.regChainSql("", "lineitem", "CAST(l_partkey AS VARCHAR)")},
      |agg AS (SELECT COUNT(*) AS m,
      |  CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT) AS sum_pow FROM reg)
      |SELECT m, n_zero, sum_pow,
      |  round(${AnalyticsQueries.estSql.format("sum_pow")}, 6) AS est_raw,
      |  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS n_exact
      |FROM agg""".stripMargin

  /** q79: repeated-passage dedup — 10-token chunks, first corpus
    * occurrence wins, documents rebuilt from surviving chunks. */
  def q79PassageDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    PassageDedup.dedupRebuild(Tables.load(s, dir, "documents"), "doc_id", "text", w = 10)
      .select($"id".as("doc_id"), $"n_chunks", $"n_kept", $"new_len", $"new_md5")
      .orderBy($"doc_id")
  }

  val q79Sql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |o AS (SELECT doc_id, unnest(list_transform(generate_series(0, ((len(t)+9)//10)-1),
      |    i -> {'pos': i, 'chunk': array_to_string(list_slice(t, i*10+1, i*10+10), ' ')})) AS s
      |  FROM toks WHERE len(t) > 0),
      |occ AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.chunk AS chunk FROM o),
      |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn FROM occ),
      |reb AS (SELECT doc_id, COUNT(*) AS n_kept, string_agg(chunk, ' ' ORDER BY pos) AS txt
      |  FROM k WHERE rn = 1 GROUP BY doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM occ GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(tot.n_chunks, 0) AS BIGINT) AS n_chunks,
      |  CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(length(COALESCE(reb.txt, '')) AS BIGINT) AS new_len,
      |  md5(COALESCE(reb.txt, '')) AS new_md5
      |FROM documents d
      |LEFT JOIN tot ON d.doc_id = tot.doc_id
      |LEFT JOIN reb ON d.doc_id = reb.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q80: heavy hitters — Misra-Gries candidates (k=64 counters per
    * partition, guaranteed superset) + exact recount; output equals the
    * plain GROUP BY HAVING cnt·64 > N, which is the oracle. */
  def q80HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tokens = Tables.load(s, dir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
    HeavyHitters.exactHeavy(tokens, k = 64)
      .select($"token", $"cnt", $"total")
      .orderBy($"cnt".desc, $"token")
  }

  val q80Sql: String =
    """WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
      |t AS (SELECT COUNT(*) AS total FROM toks),
      |c AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token)
      |SELECT c.token, c.cnt, t.total FROM c, t
      |WHERE c.cnt * 64 > t.total
      |ORDER BY cnt DESC, token""".stripMargin

  /** q85: PER-GROUP heavy hitters via the native Misra-Gries typed
    * aggregate ([[graft.functions.MisraGriesAgg]]): one k-counter
    * sketch per (lang) group rides the partial-aggregation tree, the
    * merged candidates are exactly recounted, and the threshold keeps
    * tokens with in-group count·32 > N_group — deterministic by the
    * mergeable-summaries superset guarantee, so the oracle is the
    * plain per-group GROUP BY HAVING. */
  def q85GroupHeavy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.load(s, dir, "documents")
      .select($"lang", explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
      .localCheckpoint(false) // feeds candidates, totals, and the recount
    val cand = toks.groupBy($"lang")
      .agg(graft.functions.MgFunctions.mgCandidates($"token", 32).as("cand"))
      .select($"lang", explode($"cand").as("token"))
    val totals = toks.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    toks.join(broadcast(cand), Seq("lang", "token"), "left_semi")
      .groupBy($"lang", $"token").agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), "lang")
      .filter($"cnt" * 32 > $"n_lang")
      .select($"lang", $"token", $"cnt", $"n_lang")
      .orderBy($"lang", $"cnt".desc, $"token")
  }

  val q85Sql: String =
    """WITH toks AS (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |t AS (SELECT lang, COUNT(*) AS n_lang FROM toks GROUP BY lang),
      |c AS (SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY lang, token)
      |SELECT c.lang, c.token, c.cnt, t.n_lang FROM c JOIN t USING (lang)
      |WHERE c.cnt * 32 > t.n_lang
      |ORDER BY lang, cnt DESC, token""".stripMargin

  /** q88: per-supplier top-3 line items by price via the native
    * bounded-state [[graft.functions.TopKAgg]] — at most k rows per
    * (partition, supplier) ever cross the shuffle, versus the window
    * formulation's full sort of every row (which is exactly what the
    * oracle runs). Descending price rides as negated cents so the
    * struct's ascending lexicographic order gives (price desc,
    * orderkey, linenumber). */
  def q88GroupedTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pc = expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
    Tables.load(s, dir, "lineitem")
      .select($"l_suppkey",
        struct((-pc).as("np"), $"l_orderkey".as("ok"),
          $"l_linenumber".cast("long").as("ln")).as("o"))
      .groupBy($"l_suppkey")
      .agg(graft.functions.TopKFunctions.topK($"o", 3).as("top"))
      .select($"l_suppkey", posexplode($"top").as(Seq("r0", "t")))
      .select($"l_suppkey", ($"r0" + 1).cast("long").as("rank"),
        (-$"t.np").as("price_cents"), $"t.ok".as("l_orderkey"),
        $"t.ln".as("l_linenumber"))
      .orderBy($"l_suppkey", $"rank")
  }

  val q88Sql: String =
    """WITH r AS (SELECT l_suppkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc,
      |    l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |      ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) DESC,
      |               l_orderkey, l_linenumber) AS rank
      |  FROM lineitem)
      |SELECT l_suppkey, CAST(rank AS BIGINT) AS rank, pc AS price_cents,
      |  l_orderkey, ln AS l_linenumber
      |FROM r WHERE rank <= 3 ORDER BY l_suppkey, rank""".stripMargin

  /** q107: product quantization — M=4 independent k=8 codebooks, one
    * per 16-dim subspace of the SQ8 codes, trained by the same integer
    * Lloyd as q77 ([[graft.ext.ProductQuantize]]). Output: each
    * vector's 4 codeword ids + its exact integer reconstruction error
    * (the PQ training objective). The oracle replays all four Lloyd
    * chains — generated from one template so the subspaces cannot
    * drift. */
  def q107Pq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.ProductQuantize.encodeFromFits(sharedSubFits(s, dir))
      .select($"id".as("vec_id"),
        element_at($"pq", 1).as("pq0"), element_at($"pq", 2).as("pq1"),
        element_at($"pq", 3).as("pq2"), element_at($"pq", 4).as("pq3"),
        $"recon_dist2")
      .orderBy($"vec_id")
  }

  /** Shared seeding-candidate CTE — the oracle twin of
    * [[graft.ext.KMeansInt]]'s hash-rank sample (`seedCents`): the top
    * [[graft.ext.KMeansInt.SeedCandidates]] ids by avalanched 31-bit
    * hash of the stringified id (the q78/q122 polyhash∘fmix31 chain —
    * never re-spelled), ties to the smaller id. Emitted ONCE per
    * query; every Lloyd chain's farthest-first greedy runs against
    * these ids in its OWN (sub)space. Emits `scand(id, h)`. */
  private def seedCandSql: String = seedCandSqlFrom("codes")

  /** [[seedCandSql]] drawing candidates from an arbitrary codes CTE —
    * q166's frozen-codebook training samples its seeds from the OLD
    * corpus slice only, exactly as the engine's `seedCents` sees only
    * the filtered input. */
  private def seedCandSqlFrom(src: String): String = {
    val c = graft.ext.KMeansInt.SeedCandidates
    s"""scp0 AS (SELECT vec_id AS id,
      |    ${AnalyticsQueries.polyhashSql("CAST(vec_id AS VARCHAR)")} AS h FROM $src),
      |${AnalyticsQueries.fmixChainSql("sc", "scp0", Seq("id"))},
      |scand AS MATERIALIZED (SELECT id, h FROM sch ORDER BY h, id LIMIT $c)""".stripMargin
  }

  /** One Lloyd update/assign round block (assign against the previous
    * centroids → argmin with ties to the smaller cluster → per-
    * (cluster, d) floor means with COALESCE carry for emptied
    * clusters), parameterized so the MAIN chain (over `e$tag`,
    * centroid prefix `c`) and the seed MINI chain (over the candidate
    * slice `ec$tag`, centroid prefix `g`) replay the identical
    * semantics from one template — the two must never fork. */
  private def lloydRoundsSql(tag: String, eName: String, cPfx: String,
      dPfx: String, aPfx: String, sPfx: String, n: Int): String =
    (1 to n).map { i =>
      s"""$dPfx$i$tag AS (SELECT e.id, c.cluster, SUM((e.c - c.m)*(e.c - c.m)) AS dist2
        |  FROM $eName e JOIN $cPfx${i - 1}$tag c ON e.d = c.d GROUP BY e.id, c.cluster),
        |$aPfx$i$tag AS (SELECT id, cluster FROM (SELECT *, ROW_NUMBER() OVER
        |  (PARTITION BY id ORDER BY dist2, cluster) AS rn FROM $dPfx$i$tag) t WHERE rn = 1),
        |$sPfx$i$tag AS (SELECT a.cluster, e.d, SUM(e.c) AS s, COUNT(*) AS n
        |  FROM $eName e JOIN $aPfx$i$tag a ON e.id = a.id GROUP BY a.cluster, e.d),
        |$cPfx$i$tag AS MATERIALIZED (SELECT c0.cluster, c0.d, COALESCE(s1.s // s1.n, c0.m) AS m
        |  FROM $cPfx${i - 1}$tag c0 LEFT JOIN $sPfx$i$tag s1 ON c0.cluster = s1.cluster AND c0.d = s1.d)""".stripMargin
    }.mkString(",\n")

  /** Seed construction for chain `tag` in its own space — the oracle
    * twin of `seedCents`' driver loop, in two stages. (1) Farthest-
    * first (Gonzalez) greedy over the `scand` candidates: pick 1 =
    * min-(h, id); pick i maximizes the running min squared distance to
    * the already-picked (ties to the smaller id; picked candidates
    * stay in the pool at distance 0). Cluster ids are PICK ORDER
    * 0..k−1, exactly the engine's labels. `cd$tag` is the C×C
    * candidate-pair distance matrix in this chain's dims. (2) Mini-
    * Lloyd ON THE SAMPLE from those picks — a [[graft.ext.KMeansInt.SeedRounds]]-
    * unrolled chain over the C candidate rows `ec$tag` (identical
    * round template as the main chain; rounds past the sample's fixed
    * point are no-ops, the same replay argument as the main unroll).
    * Emits `c0$tag`, the seed centroid table the main Lloyd rounds
    * start from. */
  private def seedSql(tag: String, k: Int): String = {
    val r = graft.ext.KMeansInt.SeedRounds
    val steps = (2 to k).map { i =>
      s"""p$i$tag AS (SELECT id FROM m${i - 1}$tag ORDER BY md DESC, id LIMIT 1),
        |m$i$tag AS (SELECT m.id, LEAST(m.md, cd.d2) AS md
        |  FROM m${i - 1}$tag m JOIN cd$tag cd ON cd.ia = m.id
        |  JOIN p$i$tag p ON cd.ib = p.id)""".stripMargin
    }.mkString(",\n")
    val picks = (1 to k).map(i => s"SELECT ${i - 1} AS cluster, id FROM p$i$tag")
      .mkString(" UNION ALL ")
    s"""ec$tag AS MATERIALIZED (SELECT e.id, e.d, e.c
      |  FROM e$tag e JOIN scand s ON e.id = s.id),
      |cd$tag AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib,
      |    SUM((ea.c - eb.c)*(ea.c - eb.c)) AS d2
      |  FROM ec$tag ea JOIN scand a ON ea.id = a.id
      |  JOIN ec$tag eb ON ea.d = eb.d JOIN scand b ON eb.id = b.id
      |  GROUP BY a.id, b.id),
      |p1$tag AS (SELECT id FROM scand ORDER BY h, id LIMIT 1),
      |m1$tag AS (SELECT cd.ia AS id, cd.d2 AS md FROM cd$tag cd
      |  JOIN p1$tag p ON cd.ib = p.id),
      |$steps,
      |picks$tag AS (SELECT CAST(cluster AS BIGINT) AS cluster, id FROM ($picks)),
      |g0$tag AS MATERIALIZED (SELECT p.cluster, e.d, e.c AS m
      |  FROM ec$tag e JOIN picks$tag p ON e.id = p.id),
      |${lloydRoundsSql(tag, s"ec$tag", "g", "gd", "ga", "gs", r)},
      |c0$tag AS MATERIALIZED (SELECT cluster, d, m FROM g$r$tag)""".stripMargin
  }

  /** One tagged Lloyd chain (seed → [[graft.ext.KMeansInt.MaxRounds]]
    * unrolled update/assign rounds → final assign) over the
    * `(id, d, c)` rows `eDef` emits — shared verbatim between q77
    * (full-dim), q107/q108 (per-subspace slices) and q110 (full-dim
    * coarse + residual subspaces) so training and search always replay
    * the SAME codebooks. Seeds come from [[seedSql]] (hash-rank
    * sample + farthest-first, replaying the engine's `seedCents`).
    * The engine iterates to the exact
    * assignment-set fixed point and THROWS past MaxRounds; past the
    * fixed point every unrolled round is a no-op (zero changed
    * assignments reproduce the floor-mean centroids exactly), so an
    * oracle unrolled to exactly MaxRounds replays every run the engine
    * can complete. Each round's centroid CTE is MATERIALIZED — it is
    * referenced along two paths (distance join + COALESCE carry), so
    * inlining would double the plan every round. Emits `cb$tag` (the
    * converged codebook) and `f$tag` (per-id codeword + dist2). */
  private def lloydChainSql(tag: String, eDef: String): String = {
    val k = graft.ext.ProductQuantize.K
    val u = graft.ext.KMeansInt.MaxRounds
    s"""e$tag AS MATERIALIZED ($eDef),
      |${seedSql(tag, k)},
      |${lloydRoundsSql(tag, s"e$tag", "c", "d", "a", "s", u)},
      |cb$tag AS (SELECT * FROM c$u$tag),
      |df$tag AS (SELECT e.id, c.cluster, SUM((e.c - c.m)*(e.c - c.m)) AS dist2
      |  FROM e$tag e JOIN cb$tag c ON e.d = c.d GROUP BY e.id, c.cluster),
      |f$tag AS MATERIALIZED (SELECT id, cluster, dist2 FROM (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY id ORDER BY dist2, cluster) AS rn FROM df$tag) t WHERE rn = 1)""".stripMargin
  }

  private def pqChainSql(m: Int): String = pqChainSqlFrom(m, "codes")

  private def pqChainSqlFrom(m: Int, src: String): String = {
    val sub = graft.ext.ProductQuantize.SubDim
    val off = m * sub
    lloydChainSql(m.toString,
      s"""SELECT vec_id AS id, d - $off AS d, cs[d] AS c
      |  FROM $src, generate_series(${off + 1}, ${off + sub}) AS t(d)""".stripMargin)
  }

  private def pqChainsSql: String =
    (0 until graft.ext.ProductQuantize.NumSub).map(pqChainSql).mkString(",\n")

  val q107Sql: String = {
    s"""WITH $sq8CodesSql,
      |$seedCandSql,
      |$pqChainsSql
      |SELECT f0.id AS vec_id,
      |  f0.cluster AS pq0, f1.cluster AS pq1, f2.cluster AS pq2, f3.cluster AS pq3,
      |  CAST(f0.dist2 + f1.dist2 + f2.dist2 + f3.dist2 AS BIGINT) AS recon_dist2
      |FROM f0 JOIN f1 ON f0.id = f1.id JOIN f2 ON f0.id = f2.id
      |  JOIN f3 ON f0.id = f3.id
      |ORDER BY vec_id""".stripMargin
  }

  /** q108: PQ asymmetric-distance search — each query (SQ8 code vector,
    * id < 4) builds an M×K lookup table of exact integer sub-distances
    * against q107's codebooks; the corpus is scanned once in compressed
    * (id, sub, codeword) form and ranked by Σ_m LUT[m][codeword]
    * ([[graft.ext.ProductQuantize.adcTopK]]) — the faiss-style query
    * path that makes PQ a searchable index, not just compression. */
  def q108AdcSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pq = graft.ext.ProductQuantize
    val fits = sharedSubFits(s, dir)
    pq.adcTopKEnc(pq.encFromFits(fits), sharedCodes(s, dir).filter($"id" < 4),
        pq.codebooksFromFits(fits), topK = 10)
      .orderBy($"qid", $"rank")
  }

  val q108Sql: String = {
    val subs = 0 until graft.ext.ProductQuantize.NumSub
    val luts = subs.map { m =>
      s"""lut$m AS (SELECT q.id AS qid, c.cluster,
        |  SUM((q.c - c.m)*(q.c - c.m)) AS lutd2
        |  FROM e$m q JOIN cb$m c ON q.d = c.d WHERE q.id < 4
        |  GROUP BY q.id, c.cluster),
        |sc$m AS (SELECT l.qid, f.id, l.lutd2
        |  FROM f$m f JOIN lut$m l ON f.cluster = l.cluster WHERE f.id <> l.qid)""".stripMargin
    }.mkString(",\n")
    val unioned = subs.map(m => s"SELECT * FROM sc$m").mkString(" UNION ALL ")
    s"""WITH $sq8CodesSql,
      |$seedCandSql,
      |$pqChainsSql,
      |$luts,
      |tot AS (SELECT qid, id, SUM(lutd2) AS adc_dist2 FROM ($unioned) u
      |  GROUP BY qid, id),
      |rk AS (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY qid ORDER BY adc_dist2, id) AS rank FROM tot)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, id AS vec_id,
      |  CAST(adc_dist2 AS BIGINT) AS adc_dist2
      |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** q110: IVF-PQ — the full production vector-index composition
    * ([[graft.ext.ProductQuantize.ivfPqTopK]]): a K-cluster coarse
    * quantizer partitions the corpus; PQ codebooks over the SHIFTED
    * residuals (vector − coarse centroid) encode what the coarse id
    * doesn't capture; search probes the nProbe nearest coarse cells and
    * ranks only their members by residual-LUT lookups. The oracle
    * replays coarse training, residual computation, all four residual
    * Lloyd chains, probing, LUT build, and ranking — every number an
    * exact integer. */
  def q110IvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.ProductQuantize.ivfPqTopKWith(sharedIvfPqIndex(s, dir),
        sharedCodes(s, dir).filter($"id" < 4), nProbe = 2, topK = 10)
      .orderBy($"qid", $"rank")
  }

  /** Shared IVF-PQ oracle chain (codes → seeds → full-dim coarse chain
    * `g` → shifted residuals `er` → four residual subspace chains →
    * per-query coarse distances `qd`) — shared verbatim between q110
    * and q164 so the search and its recall measurement replay the SAME
    * index. */
  /** [[ivfPqCoreSql]] training from an arbitrary codes CTE — q194's
    * registry oracle retrains the STANDING-corpus generation only, the
    * way [[sharedOldIvfPq]] builds it; the full-corpus form below
    * instantiates this with `codes`. Emits the same CTE surface
    * (scand, qset, eg/fg/cbg, er, per-sub chains, qd), so
    * [[ivfPqProbeSql]] blocks compose unchanged. */
  private def ivfPqCoreSqlFrom(src: String, qsetSql: String): String = {
    val pq = graft.ext.ProductQuantize
    val shift = pq.ResidShift
    val residChains = (0 until pq.NumSub).map { m =>
      val off = m * pq.SubDim
      lloydChainSql(m.toString,
        s"SELECT id, d - $off AS d, c FROM er WHERE d > $off AND d <= ${off + pq.SubDim}")
    }.mkString(",\n")
    s"""${seedCandSqlFrom(src)},
      |qset AS MATERIALIZED ($qsetSql),
      |${lloydChainSql("g",
        s"SELECT vec_id AS id, d, cs[d] AS c FROM $src, generate_series(1, 64) AS t(d)")},
      |er AS MATERIALIZED (SELECT e.id, e.d, e.c - c.m + $shift AS c
      |  FROM eg e JOIN fg f ON e.id = f.id
      |  JOIN cbg c ON c.cluster = f.cluster AND c.d = e.d),
      |$residChains,
      |qd AS (SELECT q.id AS qid, c.cluster AS pc,
      |  SUM((q.c - c.m)*(q.c - c.m)) AS d2
      |  FROM eg q JOIN qset s ON q.id = s.id JOIN cbg c ON q.d = c.d
      |  GROUP BY q.id, c.cluster)""".stripMargin
  }

  private def ivfPqCoreSql(qsetSql: String): String =
    s"""$sq8CodesSql,
      |${ivfPqCoreSqlFrom("codes", qsetSql)}""".stripMargin

  /** One nProbe's probe → query-residual → LUT → candidate-rank block
    * (CTE names suffixed with the nProbe so several coexist in one
    * query); emits `rk$np(qid, id, adc_dist2, rank)`. */
  private def ivfPqProbeSql(np: Int): String = {
    val pq = graft.ext.ProductQuantize
    val subs = 0 until pq.NumSub
    val luts = subs.map { m =>
      val off = m * pq.SubDim
      s"""lut${np}_$m AS (SELECT qs.qid, qs.pc, cb.cluster,
        |  SUM((qs.c - cb.m)*(qs.c - cb.m)) AS lutd2
        |  FROM (SELECT qid, pc, d - $off AS d, c FROM qr$np
        |        WHERE d > $off AND d <= ${off + pq.SubDim}) qs
        |  JOIN cb$m cb ON qs.d = cb.d GROUP BY qs.qid, qs.pc, cb.cluster),
        |sc${np}_$m AS (SELECT l.qid, f.id, l.lutd2
        |  FROM f$m f JOIN fg g ON g.id = f.id
        |  JOIN lut${np}_$m l ON l.pc = g.cluster AND l.cluster = f.cluster
        |  WHERE f.id <> l.qid)""".stripMargin
    }.mkString(",\n")
    val unioned = subs.map(m => s"SELECT * FROM sc${np}_$m").mkString(" UNION ALL ")
    s"""probe$np AS MATERIALIZED (SELECT qid, pc FROM (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY qid ORDER BY d2, pc) AS rn FROM qd) t WHERE rn <= $np),
      |qr$np AS MATERIALIZED (SELECT p.qid, p.pc, e.d, e.c - c.m + ${pq.ResidShift} AS c
      |  FROM probe$np p JOIN eg e ON e.id = p.qid
      |  JOIN cbg c ON c.cluster = p.pc AND c.d = e.d),
      |$luts,
      |tot$np AS (SELECT qid, id, SUM(lutd2) AS adc_dist2 FROM ($unioned) u
      |  GROUP BY qid, id),
      |rk$np AS (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY qid ORDER BY adc_dist2, id) AS rank FROM tot$np)""".stripMargin
  }

  val q110Sql: String =
    s"""WITH ${ivfPqCoreSql("SELECT vec_id AS id FROM codes WHERE vec_id < 4")},
      |${ivfPqProbeSql(2)}
      |SELECT qid, CAST(rank AS BIGINT) AS rank, id AS vec_id,
      |  CAST(adc_dist2 AS BIGINT) AS adc_dist2
      |FROM rk2 WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** The nProbe sweep q164 measures — covers the full probe range of
    * the K-cluster coarse quantizer. MUST contain
    * [[graft.ext.ProductQuantize.K]]: the full-probe ground truth is
    * the sweep's own nProbe=K slice (enforced by `require` in q164). */
  private val RecallProbes = Seq(1, 2, 4, 8)

  /** q164's query-workload size: a deterministic hash-rank sample of
    * the corpus (top N ids by the q78/q122 avalanched 31-bit hash of
    * the stringified id, ties to the smaller id — the
    * [[graft.ext.KMeansInt.SeedCandidates]] sampling discipline reused
    * verbatim), wide enough that the recall ppm is a real operating
    * curve rather than a 4-point anecdote. */
  private val RecallQueryCount = 32

  /** The deterministic [[RecallQueryCount]]-vector query workload
    * (id, codes) shared by q164 (recall sweep) and q165 (persisted-
    * index probe): top N ids by avalanched 31-bit hash of the
    * stringified id, ties to the smaller id — Catalyst plans the
    * orderBy+limit as TakeOrderedAndProject (map-side partial top-N,
    * no sort exchange; N rows collectable at any corpus scale). */
  private def recallQuerySample(s: SparkSession, codes: DataFrame): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s) // polyhash behind hash31
    codes
      .select($"id", $"codes", Hll.hash31($"id".cast("string")).as("qh"))
      .orderBy($"qh", $"id")
      .limit(RecallQueryCount)
      .select($"id", $"codes")
  }

  /** q164: IVF-PQ recall self-measurement — the swap-exact-for-approx
    * discipline (q137's LSH operating curve) closed over the vector
    * stack: for each nProbe ∈ {1,2,4,8}, recall@10 of
    * [[graft.ext.ProductQuantize.ivfPqTopKWith]] against TWO ground
    * truths per query vector. `recall_exact` compares to the exact
    * full-dim L2 top-10 in code space (the q22-class brute-force scan —
    * end-to-end quality of coarse pruning + residual PQ). `recall_full`
    * compares to the ADC ranking at nProbe=K (full probe): because the
    * probed candidate set only GROWS with nProbe and every full-probe
    * winner present in a candidate set must rank in its top-10, this
    * recall is PROVABLY monotone non-decreasing in nProbe (spec-pinned)
    * and reaches 10/10 at nProbe=K by construction — the operating
    * curve an index tuner actually reads. All-integer ppm; ties by id
    * everywhere, so both truths and the sweep are bit-replayable. */
  def q164IvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pq = graft.ext.ProductQuantize
    require(RecallProbes.contains(pq.K),
      s"RecallProbes must include K=${pq.K}: the full-probe truth is the sweep's nProbe=K slice")
    val idx = sharedIvfPqIndex(s, dir)
    val codes = sharedCodes(s, dir)
    val queries = recallQuerySample(s, codes)
    // exact code-space L2 truth: the q22-class broadcast brute force
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"d2", $"id")
    val truthExact = codes
      .crossJoin(broadcast(queries.select($"id".as("qid"), $"codes".as("qcs"))))
      .filter($"id" =!= $"qid")
      .select($"qid", $"id",
        aggregate(zip_with($"codes", $"qcs", (c, q) => (c - q) * (c - q)),
          lit(0L), (a, x) => a + x).as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"qid", $"id".as("vec_id"))
    // the whole sweep in ONE corpus pass (ADC distances are nProbe-
    // independent — ivfPqSweep scores once and slices); the full-probe
    // truth is the sweep's own nProbe=K point
    val sweep = pq.ivfPqSweep(idx, queries, RecallProbes, topK = 10)
      .localCheckpoint(false)
    val truthFull = sweep.filter($"n_probe" === pq.K.toLong)
      .select($"qid", $"vec_id")
    val ret = sweep.select($"n_probe", $"qid", $"vec_id")
    ret
      .join(truthExact.withColumn("hx", lit(1)), Seq("qid", "vec_id"), "left")
      .join(truthFull.withColumn("hf", lit(1)), Seq("qid", "vec_id"), "left")
      .groupBy($"n_probe", $"qid")
      .agg(count($"hx").as("n_hits_exact"), count($"hf").as("n_hits_full"))
      .withColumn("recall_exact_ppm", expr("n_hits_exact * 1000000L DIV 10"))
      .withColumn("recall_full_ppm", expr("n_hits_full * 1000000L DIV 10"))
      .orderBy($"n_probe", $"qid")
  }

  val q164Sql: String = {
    val probeBlocks = RecallProbes.map(ivfPqProbeSql).mkString(",\n")
    val rets = RecallProbes.map(np =>
      s"SELECT $np AS n_probe, qid, id FROM rk$np WHERE rank <= 10")
      .mkString(" UNION ALL ")
    s"""WITH ${ivfPqCoreSql(
        s"SELECT id FROM scand ORDER BY h, id LIMIT $RecallQueryCount")},
      |$probeBlocks,
      |exd AS (SELECT q.vec_id AS qid, c.vec_id AS id,
      |  list_sum(list_transform(generate_series(1, 64),
      |    d -> (q.cs[d] - c.cs[d]) * (q.cs[d] - c.cs[d]))) AS d2
      |  FROM codes q JOIN qset s ON q.vec_id = s.id, codes c
      |  WHERE c.vec_id <> q.vec_id),
      |tx AS (SELECT qid, id FROM (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY qid ORDER BY d2, id) AS rank FROM exd) t WHERE rank <= 10),
      |tf AS (SELECT qid, id FROM rk8 WHERE rank <= 10),
      |ret AS ($rets)
      |SELECT CAST(r.n_probe AS BIGINT) AS n_probe, r.qid,
      |  CAST(COUNT(x.id) AS BIGINT) AS n_hits_exact,
      |  CAST(COUNT(f.id) AS BIGINT) AS n_hits_full,
      |  CAST(COUNT(x.id) * 1000000 // 10 AS BIGINT) AS recall_exact_ppm,
      |  CAST(COUNT(f.id) * 1000000 // 10 AS BIGINT) AS recall_full_ppm
      |FROM ret r
      |LEFT JOIN tx x ON r.qid = x.qid AND r.id = x.id
      |LEFT JOIN tf f ON r.qid = f.qid AND r.id = f.id
      |GROUP BY r.n_probe, r.qid
      |ORDER BY n_probe, r.qid""".stripMargin
  }

  /** q165: PERSISTED-index probe — the serving half of the vector
    * stack's ingest-vs-probe split (What q120/q155/q159 do for dedup):
    * the IVF-PQ index (coarse centroids, coarse assignments, residual
    * codebooks, compressed corpus) is written to parquet once per
    * corpus version ([[graft.ext.VectorIndexStore]]) and the probe
    * runs [[graft.ext.ProductQuantize.ivfPqTopKWith]] against the
    * LOADED scans — at execution time the search reads parquet and
    * touches no training code path, which is how a production pipeline
    * amortizes training across every later query batch. The oracle
    * recomputes the entire chain (training included) from the raw
    * tables, so a green hash proves the parquet round trip is
    * bit-lossless end-to-end. Workload: the q164 32-query hash-rank
    * sample at nProbe=4 (q110 covers the in-memory index at
    * nProbe=2). */
  def q165PersistedProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.ProductQuantize.ivfPqTopKWith(sharedPersistedIvfPq(s, dir),
        recallQuerySample(s, sharedCodes(s, dir)), nProbe = 4, topK = 10)
      .orderBy($"qid", $"rank")
  }

  val q165Sql: String =
    s"""WITH ${ivfPqCoreSql(
        s"SELECT id FROM scand ORDER BY h, id LIMIT $RecallQueryCount")},
      |${ivfPqProbeSql(4)}
      |SELECT qid, CAST(rank AS BIGINT) AS rank, id AS vec_id,
      |  CAST(adc_dist2 AS BIGINT) AS adc_dist2
      |FROM rk4 WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** The frozen PQ codebooks — trained on the OLD corpus slice only
    * ([[sharedOldSubFits]]), persisted to parquet, handed back as the
    * LOADED scan (so q166's encode provably reads storage, not the
    * training session). */
  private[queries] def sharedFrozenBooks(s: SparkSession, dir: String): DataFrame =
    frozenBooksCache(s, dir) {
      val fits = sharedOldSubFits(s, dir)
      val path = graft.ext.VectorIndexStore.defaultPath(dir, "books_old")
      graft.ext.VectorIndexStore.writeBooks(
        graft.ext.ProductQuantize.codebooksFromFits(fits), path)
      graft.ext.VectorIndexStore.readBooks(s, path)
    }

  /** q166: frozen-codebook INGEST — encode a batch of NEW vectors
    * (vec_id % 10 = 0, the arrival slice) against PQ codebooks trained
    * only on the standing corpus (vec_id % 10 ≠ 0) and loaded from
    * parquet: codeword ids + exact integer reconstruction error per
    * new vector. This is the operation a serving pipeline runs per
    * ingest batch — assignment against frozen broadcast books
    * ([[graft.ext.ProductQuantize.encodeAgainst]]), never retraining —
    * and the reconstruction error column is exactly the drift signal
    * that tells an operator when the frozen books have gone stale. The
    * oracle retrains the four Lloyd chains on the old slice (seeds
    * sampled from the old slice only, as the engine does) and assigns
    * the new rows against the converged codebooks. */
  def q166FrozenEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.ProductQuantize.encodeAgainst(
        sharedCodes(s, dir).filter($"id" % 10 === 0),
        sharedFrozenBooks(s, dir))
      .select($"id".as("vec_id"),
        element_at($"pq", 1).as("pq0"), element_at($"pq", 2).as("pq1"),
        element_at($"pq", 3).as("pq2"), element_at($"pq", 4).as("pq3"),
        $"recon_dist2")
      .orderBy($"vec_id")
  }

  val q166Sql: String = {
    val pq = graft.ext.ProductQuantize
    val newAssigns = (0 until pq.NumSub).map { m =>
      val off = m * pq.SubDim
      s"""en$m AS (SELECT vec_id AS id, d - $off AS d, cs[d] AS c
        |  FROM ncodes, generate_series(${off + 1}, ${off + pq.SubDim}) AS t(d)),
        |dn$m AS (SELECT e.id, c.cluster, SUM((e.c - c.m)*(e.c - c.m)) AS dist2
        |  FROM en$m e JOIN cb$m c ON e.d = c.d GROUP BY e.id, c.cluster),
        |fn$m AS (SELECT id, cluster, dist2 FROM (SELECT *, ROW_NUMBER() OVER
        |  (PARTITION BY id ORDER BY dist2, cluster) AS rn FROM dn$m) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sq8CodesSql,
      |ocodes AS MATERIALIZED (SELECT * FROM codes WHERE vec_id % 10 <> 0),
      |ncodes AS MATERIALIZED (SELECT * FROM codes WHERE vec_id % 10 = 0),
      |${seedCandSqlFrom("ocodes")},
      |${(0 until pq.NumSub).map(pqChainSqlFrom(_, "ocodes")).mkString(",\n")},
      |$newAssigns
      |SELECT fn0.id AS vec_id,
      |  fn0.cluster AS pq0, fn1.cluster AS pq1, fn2.cluster AS pq2, fn3.cluster AS pq3,
      |  CAST(fn0.dist2 + fn1.dist2 + fn2.dist2 + fn3.dist2 AS BIGINT) AS recon_dist2
      |FROM fn0 JOIN fn1 ON fn0.id = fn1.id JOIN fn2 ON fn0.id = fn2.id
      |  JOIN fn3 ON fn0.id = fn3.id
      |ORDER BY vec_id""".stripMargin
  }

  /** The IVF-PQ index trained ONLY on the standing corpus
    * (vec_id % 10 ≠ 0), persisted to parquet and handed back LOADED —
    * the frozen index q167's arrival batch is added against: fit,
    * index and persisted index are three artifacts. */
  private[queries] def sharedOldIvfPq(s: SparkSession, dir: String): IvfPq =
    oldPersistedIvfPqCache(s, dir) {
      val old = sharedCodes(s, dir).filter(col("id") % 10 =!= 0)
      val fit = oldFullFitCache(s, dir) {
        KMeansInt.fitConvergedAssign(old,
          k = graft.ext.ProductQuantize.CoarseK, maxRounds = KMeansInt.MaxRounds)
      }
      val idx = oldIvfPqCache(s, dir) {
        graft.ext.ProductQuantize.ivfPqIndexFrom(old, fit)
      }
      val path = graft.ext.VectorIndexStore.defaultPath(dir, "ivfpq_old")
      graft.ext.VectorIndexStore.writeIvfPq(idx, path)
      graft.ext.VectorIndexStore.readIvfPq(s, path)
    }

  /** q167: IVF-PQ index ADD — the full incremental-ingest path q166
    * covers for plain PQ, applied to the production index layout: the
    * NEW-arrival slice (vec_id % 10 = 0) is coarse-assigned, residual-
    * shifted, and residual-PQ-encoded against the FROZEN index trained
    * only on the standing corpus and loaded from parquet
    * ([[graft.ext.ProductQuantize.ivfPqAdd]] over [[sharedOldIvfPq]]).
    * Output per arrival: its coarse cell, exact coarse distance, four
    * residual codewords, and exact residual reconstruction error —
    * precisely the rows an ingest batch appends to the index's
    * `asg`/`enc` parquet parts, with the two error columns an operator
    * watches for index staleness. The oracle retrains coarse + all
    * four residual chains on the old slice and replays the
    * assign/shift/encode of the new rows. */
  def q167IvfPqAdd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.ProductQuantize.ivfPqAdd(
        sharedCodes(s, dir).filter($"id" % 10 === 0),
        sharedOldIvfPq(s, dir))
      .select($"id".as("vec_id"), $"coarse", $"coarse_dist2",
        element_at($"pq", 1).as("pq0"), element_at($"pq", 2).as("pq1"),
        element_at($"pq", 3).as("pq2"), element_at($"pq", 4).as("pq3"),
        $"recon_dist2")
      .orderBy($"vec_id")
  }

  val q167Sql: String = {
    val pq = graft.ext.ProductQuantize
    val shift = pq.ResidShift
    val residChains = (0 until pq.NumSub).map { m =>
      val off = m * pq.SubDim
      lloydChainSql(m.toString,
        s"SELECT id, d - $off AS d, c FROM er WHERE d > $off AND d <= ${off + pq.SubDim}")
    }.mkString(",\n")
    val newSubAssigns = (0 until pq.NumSub).map { m =>
      val off = m * pq.SubDim
      s"""enr$m AS (SELECT id, d - $off AS d, c FROM ern
        |  WHERE d > $off AND d <= ${off + pq.SubDim}),
        |dnr$m AS (SELECT e.id, c.cluster, SUM((e.c - c.m)*(e.c - c.m)) AS dist2
        |  FROM enr$m e JOIN cb$m c ON e.d = c.d GROUP BY e.id, c.cluster),
        |fnr$m AS (SELECT id, cluster, dist2 FROM (SELECT *, ROW_NUMBER() OVER
        |  (PARTITION BY id ORDER BY dist2, cluster) AS rn FROM dnr$m) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sq8CodesSql,
      |ocodes AS MATERIALIZED (SELECT * FROM codes WHERE vec_id % 10 <> 0),
      |ncodes AS MATERIALIZED (SELECT * FROM codes WHERE vec_id % 10 = 0),
      |${seedCandSqlFrom("ocodes")},
      |${lloydChainSql("g",
        "SELECT vec_id AS id, d, cs[d] AS c FROM ocodes, generate_series(1, 64) AS t(d)")},
      |er AS MATERIALIZED (SELECT e.id, e.d, e.c - c.m + $shift AS c
      |  FROM eg e JOIN fg f ON e.id = f.id
      |  JOIN cbg c ON c.cluster = f.cluster AND c.d = e.d),
      |$residChains,
      |eng AS MATERIALIZED (SELECT vec_id AS id, d, cs[d] AS c
      |  FROM ncodes, generate_series(1, 64) AS t(d)),
      |dgn AS (SELECT e.id, c.cluster, SUM((e.c - c.m)*(e.c - c.m)) AS dist2
      |  FROM eng e JOIN cbg c ON e.d = c.d GROUP BY e.id, c.cluster),
      |fgn AS (SELECT id, cluster, dist2 FROM (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY id ORDER BY dist2, cluster) AS rn FROM dgn) t WHERE rn = 1),
      |ern AS MATERIALIZED (SELECT e.id, e.d, e.c - c.m + $shift AS c
      |  FROM eng e JOIN fgn f ON e.id = f.id
      |  JOIN cbg c ON c.cluster = f.cluster AND c.d = e.d),
      |$newSubAssigns
      |SELECT fgn.id AS vec_id, fgn.cluster AS coarse,
      |  CAST(fgn.dist2 AS BIGINT) AS coarse_dist2,
      |  fnr0.cluster AS pq0, fnr1.cluster AS pq1, fnr2.cluster AS pq2,
      |  fnr3.cluster AS pq3,
      |  CAST(fnr0.dist2 + fnr1.dist2 + fnr2.dist2 + fnr3.dist2 AS BIGINT) AS recon_dist2
      |FROM fgn JOIN fnr0 ON fgn.id = fnr0.id JOIN fnr1 ON fgn.id = fnr1.id
      |  JOIN fnr2 ON fgn.id = fnr2.id JOIN fnr3 ON fgn.id = fnr3.id
      |ORDER BY vec_id""".stripMargin
  }

  /** The compacted (version-2) persisted index: version 1
    * ([[sharedOldIvfPq]]) minus the retraction slice (id % 7 = 0 — a
    * takedown batch), deleted via [[graft.ext.ProductQuantize.ivfPqDelete]],
    * written to its own parquet location and handed back LOADED — so
    * q168's report provably reads the compacted storage, never the
    * in-memory diff. */
  private[queries] def sharedCompactedOldIvfPq(s: SparkSession, dir: String): IvfPq =
    compactedIvfPqCache(s, dir) {
      val v1 = sharedOldIvfPq(s, dir)
      val deletes = v1._2.filter(col("id") % 7 === 0).select(col("id"))
      val v2 = graft.ext.ProductQuantize.ivfPqDelete(v1, deletes)
      val path = graft.ext.VectorIndexStore.defaultPath(dir, "ivfpq_old_v2")
      graft.ext.VectorIndexStore.writeIvfPq(v2, path)
      graft.ext.VectorIndexStore.readIvfPq(s, path)
    }

  /** q168: index DELETE + COMPACT — the retraction pass that completes
    * the persisted index's lifecycle (build/probe q165, frozen-book
    * encode q166, add q167, delete here): a takedown batch (id % 7 = 0
    * of the standing corpus) is anti-joined out of the index's
    * corpus-sized `asg`/`enc` parquet parts and the compacted index is
    * written as version 2, codebooks untouched (deletion never
    * retrains). The report diffs the two LOADED index versions — per
    * coarse cell: vectors remaining, vectors dropped (v1 ∖ v2, an
    * anti-join of the two storage generations), and an exact integer
    * checksum over the surviving compressed codewords
    * (Σ (sub+1)·(codeword+1)) proving the `enc` rows that remain are
    * bit-identical to what the build wrote. The oracle retrains coarse
    * + residual chains from the raw tables and replays the deletion,
    * so a green hash certifies the whole delete→compact→reload round
    * trip. Scale shape: two anti-joins and three keyed aggregations
    * over corpus-sized parts, output = K cells. */
  def q168IndexCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (coarse1, asg1, _, _) = sharedOldIvfPq(s, dir)
    val (_, asg2, _, enc2) = sharedCompactedOldIvfPq(s, dir)
    val cells = coarse1.select($"cluster".as("coarse")).distinct()
    val kept = asg2.groupBy($"coarse").agg(count(lit(1)).as("n_kept"))
    val dropped = asg1.join(asg2.select($"id"), Seq("id"), "left_anti")
      .groupBy($"coarse").agg(count(lit(1)).as("n_dropped"))
    val chk = enc2.join(asg2, "id")
      .groupBy($"coarse")
      .agg(sum(($"sub" + 1) * ($"cluster" + 1)).as("enc_checksum"))
    cells.join(kept, Seq("coarse"), "left")
      .join(dropped, Seq("coarse"), "left")
      .join(chk, Seq("coarse"), "left")
      .select($"coarse",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"n_dropped", lit(0L)).as("n_dropped"),
        coalesce($"enc_checksum", lit(0L)).as("enc_checksum"))
      .orderBy($"coarse")
  }

  val q168Sql: String = {
    val pq = graft.ext.ProductQuantize
    val shift = pq.ResidShift
    val residChains = (0 until pq.NumSub).map { m =>
      val off = m * pq.SubDim
      lloydChainSql(m.toString,
        s"SELECT id, d - $off AS d, c FROM er WHERE d > $off AND d <= ${off + pq.SubDim}")
    }.mkString(",\n")
    s"""WITH $sq8CodesSql,
      |ocodes AS MATERIALIZED (SELECT * FROM codes WHERE vec_id % 10 <> 0),
      |${seedCandSqlFrom("ocodes")},
      |${lloydChainSql("g",
        "SELECT vec_id AS id, d, cs[d] AS c FROM ocodes, generate_series(1, 64) AS t(d)")},
      |er AS MATERIALIZED (SELECT e.id, e.d, e.c - c.m + $shift AS c
      |  FROM eg e JOIN fg f ON e.id = f.id
      |  JOIN cbg c ON c.cluster = f.cluster AND c.d = e.d),
      |$residChains,
      |keepasg AS (SELECT id, cluster FROM fg WHERE id % 7 <> 0),
      |dropasg AS (SELECT id, cluster FROM fg WHERE id % 7 = 0),
      |kn AS (SELECT cluster, COUNT(*) AS n FROM keepasg GROUP BY cluster),
      |dn AS (SELECT cluster, COUNT(*) AS n FROM dropasg GROUP BY cluster),
      |chk AS (SELECT k.cluster,
      |    SUM(1*(f0.cluster+1) + 2*(f1.cluster+1) + 3*(f2.cluster+1) + 4*(f3.cluster+1)) AS s
      |  FROM keepasg k JOIN f0 ON k.id = f0.id JOIN f1 ON k.id = f1.id
      |    JOIN f2 ON k.id = f2.id JOIN f3 ON k.id = f3.id
      |  GROUP BY k.cluster),
      |cells AS (SELECT DISTINCT cluster FROM cbg)
      |SELECT CAST(c.cluster AS BIGINT) AS coarse,
      |  CAST(COALESCE(kn.n, 0) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(dn.n, 0) AS BIGINT) AS n_dropped,
      |  CAST(COALESCE(chk.s, 0) AS BIGINT) AS enc_checksum
      |FROM cells c LEFT JOIN kn ON c.cluster = kn.cluster
      |  LEFT JOIN dn ON c.cluster = dn.cluster
      |  LEFT JOIN chk ON c.cluster = chk.cluster
      |ORDER BY coarse""".stripMargin
  }

  /** The registry generations of the standing-corpus IVF-PQ index —
    * the production form of every `defaultPath` persistence above
    * ([[graft.ext.ArtifactRegistry]]): generation 1 is the
    * standing-corpus index ([[sharedOldIvfPq]]'s tuple) published
    * write-once under an explicit version path; generation 2 is the
    * UPGRADE — generation 1 with the arrival batch's ADD rows
    * ([[graft.ext.ProductQuantize.ivfPqAdd]], the q167 ingest)
    * appended to the corpus-sized `asg`/`enc` parts, codebooks frozen.
    * Returns (pinned generation-1 frames, pinned version, latest
    * version). Published once per (session, dir); corpus fingerprints
    * recorded in the manifest are the XOR id-checksums of each
    * generation's membership (the q193 manifest discipline). */
  private[queries] def sharedIvfPqRegistry(s: SparkSession, dir: String)
      : (IvfPq, Long, Long) =
    ivfPqRegistryCache(s, dir) {
      val codes = sharedCodes(s, dir)
      val v1idx = sharedOldIvfPq(s, dir)
      import org.apache.spark.sql.functions.{col, posexplode, expr}
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      def fp(asg: DataFrame): Long =
        asg.agg(expr("bit_xor(id)")).collect()(0).getLong(0)
      val (coarse1, asg1, books1, enc1) = v1idx
      val v1 = reg.publishIvfPq(s, root, "ivfpq", fp(asg1), v1idx)
      val add = graft.ext.ProductQuantize.ivfPqAdd(
        codes.filter(col("id") % 10 === 0), v1idx)
      val asg2 = asg1.unionByName(add.select(col("id"), col("coarse")))
      val enc2 = enc1.unionByName(
        add.select(col("id"), posexplode(col("pq"))).toDF("id", "sub", "cluster"))
      reg.publishIvfPq(s, root, "ivfpq", fp(asg2), (coarse1, asg2, books1, enc2))
      (reg.readIvfPq(s, root, "ivfpq", v1), v1,
        reg.latestVersion(s, root, "ivfpq"))
    }

  /** q194: registry-PINNED serve — the read path the versioned
    * registry exists for: a probe batch serves against generation 1 of
    * the index BY EXPLICIT PIN while generation 2 (the q167-style
    * upgrade, arrivals added) already exists on the same storage — the
    * two-generations-coexist read that lets yesterday's readers finish
    * while today's publisher lands the upgrade. The execution path
    * reads only the pinned generation's immutable parquet (no training
    * code, no latest-resolution on the data path); pinned and latest
    * version numbers ride the output, so the gate certifies BOTH that
    * the pinned read is bit-lossless (the oracle retrains the
    * standing-corpus index from raw tables) AND that a newer
    * generation was present when it ran. Workload: the 32-query
    * hash-rank sample drawn from the standing corpus at nProbe=4.
    * Scale shape: identical to q165's serve — broadcast-sized
    * centroids/books read whole, corpus-sized parts scan with their
    * upstream partitioning. */
  def q194RegistryPinnedServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (pinned, v1, latest) = sharedIvfPqRegistry(s, dir)
    graft.ext.ProductQuantize.ivfPqTopKWith(pinned,
        recallQuerySample(s, sharedCodes(s, dir).filter($"id" % 10 =!= 0)),
        nProbe = 4, topK = 10)
      .select(lit(v1).as("pinned_version"), lit(latest).as("latest_version"),
        $"qid", $"rank", $"vec_id", $"adc_dist2")
      .orderBy($"qid", $"rank")
  }

  val q194Sql: String =
    s"""WITH $sq8CodesSql,
      |ocodes AS MATERIALIZED (SELECT * FROM codes WHERE vec_id % 10 <> 0),
      |${ivfPqCoreSqlFrom("ocodes",
        s"SELECT id FROM scand ORDER BY h, id LIMIT $RecallQueryCount")},
      |${ivfPqProbeSql(4)}
      |SELECT CAST(1 AS BIGINT) AS pinned_version,
      |  CAST(2 AS BIGINT) AS latest_version,
      |  qid, CAST(rank AS BIGINT) AS rank, id AS vec_id,
      |  CAST(adc_dist2 AS BIGINT) AS adc_dist2
      |FROM rk4 WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** q122: count-min sketch — per-term frequency estimates from a
    * fixed 4×32 counter matrix beside the exact counts. The build's
    * shuffle is constant-size (≤ 128 partials per partition, map-side
    * combined); estimates probe the broadcast sketch. est ≥ n_true
    * always (one-sided error); the 31-term vocabulary against 32-wide
    * rows forces real collisions, so the MIN-over-rows recovery is
    * exercised, not vacuous. All integers — the sketch cells, not just
    * the comparison, are hash-verified. */
  def q122CountMin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.CountMin
    // one tokenize pass, three consumers (sketch build, exact counts,
    // distinct probe keys)
    val toks = Tables.load(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select(explode(graft.functions.TextFunctions.tokens(lower($"text"))).as("term"))
      .filter($"term" =!= "")
      .localCheckpoint(true)
    val sk = CountMin.sketch(toks, $"term")
    val truth = toks.groupBy($"term").agg(count(lit(1)).as("n_true"))
    CountMin.estimates(sk, toks.select($"term").distinct(), $"term")
      .withColumnRenamed("key", "term")
      .join(truth, "term")
      .select($"term", $"n_true", $"est")
      .orderBy($"term")
  }

  val q122Sql: String = {
    val aList = "[" + graft.ext.CountMin.A.mkString(",") + "]"
    val bList = "[" + graft.ext.CountMin.B.mkString(",") + "]"
    s"""WITH toks AS (SELECT term FROM (
      |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      |    FROM documents WHERE length(trim(text)) > 0) t
      |  WHERE term <> ''),
      |cmp0 AS (SELECT term, ${AnalyticsQueries.polyhashSql("term")} AS h FROM toks),
      |${AnalyticsQueries.fmixChainSql("cm", "cmp0", Seq("term"))},
      |cells AS (SELECT term, i AS row,
      |    ((h * $aList[i + 1] + $bList[i + 1]) % 1000000007) % 32 AS cell
      |  FROM cmh CROSS JOIN UNNEST([0,1,2,3]) AS t(i)),
      |sk AS (SELECT row, cell, COUNT(*) AS cnt FROM cells GROUP BY row, cell),
      |truth AS (SELECT term, COUNT(*) AS n_true FROM toks GROUP BY term),
      |kc AS (SELECT DISTINCT term, row, cell FROM cells),
      |est AS (SELECT kc.term, MIN(sk.cnt) AS est
      |  FROM kc JOIN sk USING (row, cell) GROUP BY kc.term)
      |SELECT t.term, t.n_true, e.est FROM truth t JOIN est e USING (term)
      |ORDER BY term""".stripMargin
  }

  /** KMV sketch size for q125. */
  val KmvK = 64

  /** q125: KMV (k-minimum-values / theta) sketch audience overlap —
    * the distinct-intersection estimator HLL can only approach by
    * inclusion-exclusion: keep the 64 smallest distinct avalanched
    * hashes per slice; θ = min of the two sides' effective thetas (a
    * FULL side contributes its 64th value, an under-full side is exact
    * over the whole range so contributes 2^31); common hashes
    * below θ are a uniform sample of the intersection, so
    * `n_common·2^31 DIV θ` estimates |A∩B| directly. Distinct counts
    * come from the same sketches ((k−1)·2^31 DIV kth). Audience =
    * customers ordering before/after 1998 — the repeat-audience
    * overlap question every corpus/cohort comparison asks at 100 TB.
    *
    * Scale shape: each sketch is `distinct → orderBy(h).limit(k)` —
    * Catalyst plans TakeOrderedAndProject (map-side partial top-k, no
    * sort exchange); everything after touches ≤ 64 rows per side.
    * Under-full sketches fall back to their exact contents (both
    * branches mirrored in the oracle). All outputs exact integers. */
  def q125KmvOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s) // polyhash behind hash31
    val orders = Tables.load(s, dir, "orders")
    def sketch(df: DataFrame): DataFrame =
      df.select(Hll.hash31($"k".cast("string")).as("h")).distinct()
        .orderBy($"h").limit(KmvK)
    val a = sketch(orders.filter($"o_orderdate" < "1998-01-01")
      .select($"o_custkey".as("k"))).localCheckpoint(true)
    val b = sketch(orders.filter($"o_orderdate" >= "1998-01-01")
      .select($"o_custkey".as("k"))).localCheckpoint(true)
    val row = a.agg(count(lit(1)).as("n_a"), max($"h").as("kth_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b"), max($"h").as("kth_b")))
      // an under-full sketch is EXACT over the whole hash range, so its
      // theta is 2^31 (not its max hash) — only a full side constrains θ
      .withColumn("theta", least(
        when($"n_a" < KmvK, lit(2147483648L)).otherwise($"kth_a"),
        when($"n_b" < KmvK, lit(2147483648L)).otherwise($"kth_b")))
    val common = a.join(b, "h")
      .crossJoin(broadcast(row.select($"theta".as("th"))))
      .agg(count(lit(1)).as("n_common_all"),
        count(when($"h" < $"th", 1)).as("n_common"))
    val exact = orders.filter($"o_orderdate" < "1998-01-01")
      .select($"o_custkey").distinct()
      .join(orders.filter($"o_orderdate" >= "1998-01-01")
        .select($"o_custkey").distinct(), "o_custkey")
      .agg(count(lit(1)).as("exact_intersect"))
    row.crossJoin(common).crossJoin(exact).select(
      $"n_a", $"n_b", $"theta", $"n_common",
      expr(s"CASE WHEN n_a = $KmvK THEN ${KmvK - 1}L * 2147483648L DIV kth_a ELSE n_a END")
        .as("est_a"),
      expr(s"CASE WHEN n_b = $KmvK THEN ${KmvK - 1}L * 2147483648L DIV kth_b ELSE n_b END")
        .as("est_b"),
      expr(s"CASE WHEN n_a = $KmvK OR n_b = $KmvK" +
        s" THEN n_common * 2147483648L DIV theta ELSE n_common_all END")
        .as("est_intersect"),
      $"exact_intersect")
  }

  val q125Sql: String = {
    def side(p: String, cond: String): String =
      s"""${p}k0 AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
        |  FROM orders WHERE $cond),
        |${p}p0 AS (SELECT ${AnalyticsQueries.polyhashSql("k")} AS h FROM ${p}k0),
        |${AnalyticsQueries.fmixChainSql(p, s"${p}p0", Seq.empty)},
        |${p}d AS (SELECT DISTINCT h FROM ${p}h),
        |${p}sk AS (SELECT h FROM ${p}d ORDER BY h LIMIT 64),
        |${p}agg AS (SELECT COUNT(*) AS n, MAX(h) AS kth FROM ${p}sk)""".stripMargin
    s"""WITH ${side("a", "o_orderdate < '1998-01-01'")},
      |${side("b", "o_orderdate >= '1998-01-01'")},
      |rowx AS (SELECT a.n AS n_a, a.kth AS kth_a, b.n AS n_b, b.kth AS kth_b,
      |    least(CASE WHEN a.n < 64 THEN 2147483648 ELSE a.kth END,
      |          CASE WHEN b.n < 64 THEN 2147483648 ELSE b.kth END) AS theta
      |  FROM aagg a CROSS JOIN bagg b),
      |cm AS (SELECT COUNT(*) AS n_common_all,
      |    COUNT(*) FILTER (x.h < rowx.theta) AS n_common
      |  FROM (SELECT ask.h FROM ask JOIN bsk ON ask.h = bsk.h) x CROSS JOIN rowx),
      |ex AS (SELECT COUNT(*) AS exact_intersect FROM
      |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < '1998-01-01') p
      |  JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= '1998-01-01') q
      |  USING (o_custkey))
      |SELECT n_a, n_b, theta, n_common,
      |  CASE WHEN n_a = 64 THEN 63 * 2147483648 // kth_a ELSE n_a END AS est_a,
      |  CASE WHEN n_b = 64 THEN 63 * 2147483648 // kth_b ELSE n_b END AS est_b,
      |  CASE WHEN n_a = 64 OR n_b = 64 THEN n_common * 2147483648 // theta
      |       ELSE n_common_all END AS est_intersect,
      |  exact_intersect
      |FROM rowx CROSS JOIN cm CROSS JOIN ex""".stripMargin
  }

  /** q128: priority sampling (Duffield-Lund-Thorup) — the weighted
    * sample that answers arbitrary SUBSET-SUM queries with one fixed
    * k-row summary: priority q = w·2^31 DIV (h+1) (h the replayable
    * avalanched hash standing in for the uniform), keep the k highest,
    * and the Horvitz-Thompson weight ŵ = max(w, τ) with τ the
    * (k+1)-th priority makes Σŵ unbiased for Σw. All integers — the
    * whole estimator is hash-verified, not just sampled row ids.
    *
    * Scale shape: the top-(k+1) is TakeOrdered (map-side partial
    * top-k, no sort exchange); τ is a one-row stat over that 33-row
    * frame (the Bm25 N/T class); only the final 33-row ranking is a
    * (justified) single-partition window. */
  def q128PrioritySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val k = 32
    val pri = Tables.load(s, dir, "lineitem")
      .select(concat($"l_orderkey", lit("_"), $"l_linenumber").as("key"),
        $"l_quantity".cast("long").as("w"))
      // h+1 ∈ [1, 2^31] stands in for uniform (0,1]; w ≤ 50 keeps the
      // product under 2^37
      .withColumn("h", Hll.hash31($"key"))
      .select($"key", $"w", expr("w * 2147483648L DIV (h + 1)").as("pri"))
    val top = pri.orderBy($"pri".desc, $"key").limit(k + 1).localCheckpoint(true)
    // τ = the (k+1)-th priority, or 0 when the input has ≤ k rows: an
    // under-full sample is the exact population, so ŵ = max(w, 0) = w
    // (standard DLT; without the guard τ would be the smallest sampled
    // priority, biasing every ŵ upward).
    val nTop = top.count()
    val tau = if (nTop <= k) 0L else top.agg(min($"pri")).head().getLong(0)
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy($"pri".desc, $"key") // 33 rows — justified single partition
    top.withColumn("rank", row_number().over(rw).cast("long"))
      .filter($"rank" <= k)
      .select($"rank", $"key", $"w", $"pri",
        greatest($"w", lit(tau)).as("w_hat"))
      .orderBy($"rank")
  }

  val q128Sql: String =
    s"""WITH li AS (SELECT l_orderkey || '_' || l_linenumber AS key,
      |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
      |psp0 AS (SELECT key, w, ${AnalyticsQueries.polyhashSql("key")} AS h FROM li),
      |${AnalyticsQueries.fmixChainSql("ps", "psp0", Seq("key", "w"))},
      |pri AS (SELECT key, w, w * 2147483648 // (h + 1) AS pri FROM psh),
      |rk AS (SELECT *, row_number() OVER (ORDER BY pri DESC, key) AS rn FROM pri),
      |tau AS (SELECT coalesce(min(pri) FILTER (rn = 33), 0) AS t FROM rk)
      |SELECT CAST(rn AS BIGINT) AS rank, key, w, pri,
      |  greatest(w, tau.t) AS w_hat
      |FROM rk CROSS JOIN tau WHERE rn <= 32 ORDER BY rank""".stripMargin

  /** q152: EXACT distributed quantiles via histogram refinement
    * ([[graft.ext.Quantiles.exactQuantiles]]) — p1/p5/p25/p50/p75/p95/
    * p99 of lineitem's extended price in exact integer cents. Pass 1
    * is a constant-state 1024-bin histogram (the sketch); the
    * cumulative walk locates each rank's bin; pass 2 ranks ONLY inside
    * the hit bins (~n/1024 rows each — nothing corpus-sized sorts).
    * The bin bounds ship beside the exact value as the est_lo/est_hi
    * "estimate" the refinement tightens — the quantile member of the
    * sketch family, with an exact answer because the domain is
    * integer. Price→cents through DECIMAL(12,2) so the cast is exact
    * in both engines. */
  def q152HistQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.Quantiles.exactQuantiles(
        Tables.load(s, dir, "lineitem"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"),
        qBp = Seq(100, 500, 2500, 5000, 7500, 9500, 9900))
      .withColumnRenamed("exact", "exact_cents")
      .orderBy($"q_bp")
  }

  val q152Sql: String =
    """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |s AS (SELECT MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n FROM v),
      |qs(q_bp) AS (VALUES (100),(500),(2500),(5000),(7500),(9500),(9900)),
      |spec AS (SELECT CAST(q_bp AS BIGINT) AS q_bp,
      |    (q_bp * n + 9999) // 10000 AS k, mn, (mx - mn) // 1024 + 1 AS w
      |  FROM qs CROSS JOIN s),
      |vb AS (SELECT v.v, (v.v - s.mn) // ((s.mx - s.mn) // 1024 + 1) AS b
      |  FROM v CROSS JOIN s),
      |hist AS (SELECT b, COUNT(*) AS c FROM vb GROUP BY b),
      |cum AS (SELECT b, SUM(c) OVER (ORDER BY b
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
      |located AS (SELECT spec.q_bp, spec.k, spec.mn, spec.w, MIN(cum.b) AS kb
      |  FROM spec JOIN cum ON cum.cum >= spec.k
      |  GROUP BY spec.q_bp, spec.k, spec.mn, spec.w),
      |below AS (SELECT l.q_bp, l.k, l.mn, l.w, l.kb,
      |    CAST(COALESCE(MAX(c.cum), 0) AS BIGINT) AS count_below
      |  FROM located l LEFT JOIN cum c ON c.b < l.kb
      |  GROUP BY l.q_bp, l.k, l.mn, l.w, l.kb),
      |ranked AS (SELECT bl.q_bp, vb.v,
      |    ROW_NUMBER() OVER (PARTITION BY bl.q_bp ORDER BY vb.v) AS rn
      |  FROM below bl JOIN vb ON vb.b = bl.kb)
      |SELECT bl.q_bp, bl.k, bl.kb AS bucket,
      |  bl.mn + bl.kb * bl.w AS est_lo,
      |  bl.mn + (bl.kb + 1) * bl.w - 1 AS est_hi,
      |  r.v AS exact_cents
      |FROM below bl JOIN ranked r
      |  ON r.q_bp = bl.q_bp AND r.rn = bl.k - bl.count_below
      |ORDER BY bl.q_bp""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q152_hist_quantiles" -> (q152HistQuantiles _),
    "q128_priority_sample" -> (q128PrioritySample _),
    "q125_kmv_overlap" -> (q125KmvOverlap _),
    "q122_count_min" -> (q122CountMin _),
    "q77_kmeans" -> (q77Kmeans _),
    "q78_hll" -> (q78Hll _),
    "q79_passage_dedup" -> (q79PassageDedup _),
    "q80_heavy_hitters" -> (q80HeavyHitters _),
    "q85_group_heavy" -> (q85GroupHeavy _),
    "q88_grouped_topk" -> (q88GroupedTopK _),
    "q107_pq" -> (q107Pq _),
    "q108_adc_search" -> (q108AdcSearch _),
    "q110_ivfpq" -> (q110IvfPq _),
    "q164_ivfpq_recall" -> (q164IvfPqRecall _),
    "q165_persisted_probe" -> (q165PersistedProbe _),
    "q166_frozen_encode" -> (q166FrozenEncode _),
    "q167_ivfpq_add" -> (q167IvfPqAdd _),
    "q168_index_compact" -> (q168IndexCompact _),
    "q194_registry_pinned_serve" -> (q194RegistryPinnedServe _))

  val oracle: Map[String, String] = Map(
    "q152_hist_quantiles" -> q152Sql,
    "q128_priority_sample" -> q128Sql,
    "q125_kmv_overlap" -> q125Sql,
    "q122_count_min" -> q122Sql,
    "q77_kmeans" -> q77Sql,
    "q78_hll" -> q78Sql,
    "q79_passage_dedup" -> q79Sql,
    "q80_heavy_hitters" -> q80Sql,
    "q85_group_heavy" -> q85Sql,
    "q88_grouped_topk" -> q88Sql,
    "q107_pq" -> q107Sql,
    "q108_adc_search" -> q108Sql,
    "q110_ivfpq" -> q110Sql,
    "q164_ivfpq_recall" -> q164Sql,
    "q165_persisted_probe" -> q165Sql,
    "q166_frozen_encode" -> q166Sql,
    "q167_ivfpq_add" -> q167Sql,
    "q168_index_compact" -> q168Sql,
    "q194_registry_pinned_serve" -> q194Sql)
}
