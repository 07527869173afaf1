package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{MinHashLsh, SimHashDedup}

/** MinHash-LSH and SimHash dedup queries (q20, q21). The oracle SQL
  * reproduces the exact integer hash arithmetic (rolling polynomial
  * hash, fixed coefficients) in DuckDB list comprehensions, so even the
  * LSH pipelines are hash-verified — not just rows-only checks.
  */
object HashDedupQueries {

  /** Session-scoped cache of the canonical documents near-dup pair set
    * — `MinHashLsh.nearDupPairs(documents, n=8, minEstSim=0.5)`, the
    * exact frame SIX consumers re-derive independently (q20, q137's
    * est side, q170's source-overlap, and the q47/q89/q153 clustering
    * chain via [[sharedLshCcLabels]]): signature+banding re-scans every
    * document's full text, the dominant upstream cost of the family.
    * Same per-(session, dir) discipline as [[TextQueries]]'
    * shingleCache — hash-neutral (consumers run identical operators
    * over the identical pair rows). Pair rows are (id_a, id_b, est_sim): three numbers,
    * ≪ corpus-sized. */
  private val lshPairsCache = SessionArtifact[DataFrame]("lsh_pairs")

  private[queries] def sharedLshPairs(s: SparkSession, dir: String): DataFrame =
    lshPairsCache(s, dir) {
      MinHashLsh.nearDupPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 8, minEstSim = 0.5)
        .localCheckpoint(true)
    }

  /** Session-scoped cache of the near-dup CLUSTER labels — the
    * [[graft.ext.ConnectedComponents]] closure over [[sharedLshPairs]]
    * that q47 (clusters), q89 (best representative) and q153
    * (leakage-safe split) each re-ran end to end: the iterative
    * hash-min/pointer-jumping rounds are the family's second dominant
    * cost after the pair generation itself. Output (id, cluster_id) —
    * two longs per document. */
  private val lshCcLabelsCache = SessionArtifact[DataFrame]("lsh_cc_labels")

  private[queries] def sharedLshCcLabels(s: SparkSession, dir: String): DataFrame =
    lshCcLabelsCache(s, dir) {
      val pairs = sharedLshPairs(s, dir)
      graft.ext.ConnectedComponents.assign(
          Tables.load(s, dir, "documents").select(col("doc_id")), "doc_id",
          pairs, "id_a", "id_b")
        .localCheckpoint(true)
    }

  def q20MinHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedLshPairs(s, dir)
      .orderBy($"id_a", $"id_b")
  }

  /** Shared DuckDB replay of the MinHash signature + banding chain over
    * `documents` (CTEs `sig` and `bands`) — q20 and q120 must never let
    * the hash recipe fork. */
  private val sigChainSql: String = {
    val mins = (0 until MinHashLsh.K).map(j =>
      s"list_min(list_transform(hv, h -> (h * ${MinHashLsh.A(j)} + ${MinHashLsh.B(j)}) % 1000000007))")
      .mkString(",\n      |    ")
    s"""docs AS (
      |  SELECT doc_id AS id,
      |    list_distinct(list_transform(generate_series(1, length(text)-7), i -> substr(text, i, 8))) AS sh_set
      |  FROM documents WHERE length(text) >= 8),
      |hv AS (SELECT id, list_transform(sh_set, s ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007)) AS hv FROM docs),
      |sig AS (SELECT id, [$mins] AS sig FROM hv),
      |bands AS (SELECT id, b, list_slice(sig, b*4+1, b*4+4) AS slice
      |  FROM sig CROSS JOIN UNNEST([0,1,2,3]) AS t(b))""".stripMargin
  }

  /** The default-cap bucket filter every SELF-JOIN oracle replays
    * (engine: [[graft.ext.MinHashLsh.nearDupPairs]]'s default
    * `maxBucket` — a no-op at the gate's sf, where buckets peak at 3,
    * but the honest twin of the engine's clone-cluster exclusion).
    * Cross-split PROBES (q120's `nearDupAgainstIndex`) stay uncapped. */
  private[queries] val bandCapSql: String =
    s"""bsz AS (SELECT b, slice FROM bands GROUP BY b, slice
      |  HAVING COUNT(*) <= ${MinHashLsh.DefaultMaxBucket}),
      |bkept AS (SELECT bands.* FROM bands JOIN bsz USING (b, slice))""".stripMargin

  val q20Sql: String =
    s"""WITH $sigChainSql,
      |$bandCapSql,
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM bkept a JOIN bkept b ON a.b = b.b AND a.slice = b.slice AND a.id < b.id),
      |est AS (SELECT id_a, id_b,
      |  CAST(list_sum(list_transform(generate_series(1,16),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_sim
      |  FROM cand JOIN sig sa ON cand.id_a = sa.id JOIN sig sb ON cand.id_b = sb.id)
      |SELECT id_a, id_b, est_sim FROM est WHERE est_sim >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** q200: bucket-CAPPED banded LSH — [[graft.ext.MinHashLsh
    * .nearDupPairsCapped]] gated: band buckets larger than the cap are
    * excluded from pair emission (an oversized bucket is a guaranteed
    * duplicate CLUSTER and its all-pairs expansion is quadratic in the
    * clone count — the pathology the 100× verbatim scale-stress drove
    * the uncapped join into). Cap = 2 BITES at the gate's sf (the
    * corpus has two 3-member buckets), so the green hash certifies the
    * exclusion arithmetic, not a vacuous pass-through; emission is
    * distinct-pair because first-match-band is unsound under a cap
    * (the first agreeing band may be a dropped bucket). Scale shape:
    * one map-side-combined bucket count + a semi join BEFORE any pair
    * expands. */
  def q200LshBucketCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    MinHashLsh.nearDupPairsCapped(Tables.load(s, dir, "documents"),
        "doc_id", "text", n = 8, minEstSim = 0.5, maxBucket = 2)
      .orderBy($"id_a", $"id_b")
  }

  val q200Sql: String =
    s"""WITH $sigChainSql,
      |bsz AS (SELECT b, slice FROM bands GROUP BY b, slice HAVING COUNT(*) <= 2),
      |kept AS (SELECT bands.* FROM bands JOIN bsz USING (b, slice)),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM kept a JOIN kept b ON a.b = b.b AND a.slice = b.slice AND a.id < b.id),
      |est AS (SELECT id_a, id_b,
      |  CAST(list_sum(list_transform(generate_series(1,16),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_sim
      |  FROM cand JOIN sig sa ON cand.id_a = sa.id JOIN sig sb ON cand.id_b = sb.id)
      |SELECT id_a, id_b, est_sim FROM est WHERE est_sim >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  def q21SimHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SimHashDedup.nearDupPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3)
      .orderBy($"id_a", $"id_b")
  }

  /** The SimHash computation chain (tokens → rolling hashes → 32-bit
    * simhash), shared by q21's brute-force oracle, q202's capped
    * replay, and q203's dedup-first replay so none lets the signature
    * arithmetic fork. `src` is the CTE/table the chain reads. */
  private def simhashChainSqlFrom(src: String): String =
    s"""toks AS (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS ts FROM $src),
      |th AS (SELECT id, list_transform(ts, t ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(t)), i -> CAST(unicode(substr(t, i, 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 4294967296)) AS hs FROM toks),
      |sh AS (SELECT id,
      |  list_sum(list_transform(generate_series(0,31), j ->
      |    CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |    THEN 1 << j ELSE 0 END)) AS sh FROM th)""".stripMargin

  /** Oracle brute-forces all pairs; the engine bands. Identical results
    * are guaranteed by the pigeonhole bound (see [[SimHashDedup]]). */
  val q21Sql: String =
    s"""WITH ${simhashChainSqlFrom("documents")},
      |pairs AS (SELECT a.id AS id_a, b.id AS id_b, CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      |  FROM sh a JOIN sh b ON a.id < b.id)
      |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** q202: the bucket-CAPPED SimHash band join — the scale form the
    * 10× stress drove in (exact all-pairs SimHash is inherently
    * clone-quadratic: exponent 1.77 measured, because clone pairs are
    * TRUE Hamming-0 pairs; and 8-bit bands hold n/256 docs per bucket
    * in expectation, so at corpus scale every bucket is huge). The cap
    * (32, biting at gate scale) excludes oversized band buckets before
    * any pair expands; emission is distinct-pair because first-match-
    * band is unsound under a cap (the q200 argument). The oracle
    * replays the SAME exclusion from the shared simhash chain, so the
    * green hash certifies the cap arithmetic — which buckets drop,
    * which pairs survive — not just the happy path. */
  def q202SimHashCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SimHashDedup.nearDupPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3, maxBucket = 32)
      .orderBy($"id_a", $"id_b")
  }

  val q202Sql: String =
    s"""WITH ${simhashChainSqlFrom("documents")},
      |bands AS (SELECT id, sh, bs.b AS b, (sh >> (bs.b * 8)) & 255 AS bval
      |  FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS b) bs),
      |keptb AS (SELECT * FROM bands QUALIFY COUNT(*) OVER (PARTITION BY b, bval) <= 32),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
      |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      |  FROM keptb a JOIN keptb b ON a.b = b.b AND a.bval = b.bval AND a.id < b.id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3)
      |SELECT id_a, id_b, hamming FROM cand ORDER BY id_a, id_b""".stripMargin

  /** q203: the DEDUP-FIRST posture for exact SimHash near-dup — the
    * composition the q21 scaladoc names as the 100 TB path for the
    * EXACT contract, now gated. Stage order is q18/q34's: exact-dedup
    * clones upstream (one hash shuffle on a 16-byte digest — on a
    * clone-heavy corpus this removes exactly the pairs that make
    * all-pairs SimHash quadratic, since verbatim clones are true
    * Hamming-0 pairs), then band the SURVIVORS uncapped (exact, the
    * pigeonhole guarantee intact). The output stays
    * EXACT-reconstructible without ever materializing the quadratic:
    * each rep-level pair (a, b) carries its clone-group sizes and
    * `implied_pairs` = n_a·n_b (the original cross-group pairs it
    * stands for, all at the same Hamming distance because clones are
    * bit-identical), and the within-group Hamming-0 pairs are
    * C(n_copies, 2) per group — q18's output. |q21| = Σ C(n,2) +
    * Σ implied_pairs, with output linear in DISTINCT contents, not
    * quadratic in clones. The oracle replays the whole chain (dedup →
    * simhash → brute-force pairs over reps → size joins), so the
    * green hash certifies the composition, not just the parts.
    * Measured at 100× clone density (SCALESTRESS): sub-linear, vs
    * q21's 1.77 — the clone-quadratic is gone from the exact path. */
  def q203DedupFirstSimHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = graft.ext.Dedup.exactDedupWithCounts(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      .select($"doc_id", $"text", $"n_copies")
      .localCheckpoint(false) // feeds the band join and both size joins
    val sizes = reps.select($"doc_id", $"n_copies")
    // the guard scales with the SURVIVOR count: post-dedup, band
    // buckets legitimately grow as n/256 (pigeonhole over 256 band
    // values), so the default absolute guard would trip on any corpus
    // past ~2M DISTINCT contents with no pathology at all. 64× the
    // expected bucket still catches the thing the guard exists for —
    // near-identical-but-not-equal mass (templated boilerplate) dense
    // enough to make the exact output genuinely quadratic — and the
    // advice names THAT fix, not the dedup this query already did.
    // The count is one action over the checkpointed rep frame.
    val guard = math.min(Int.MaxValue.toLong, math.max(
      graft.ext.SimHashDedup.UncappedGuardBucket.toLong,
      64L * (reps.count() / 256L + 1L))).toInt
    SimHashDedup.nearDupPairs(reps, "doc_id", "text", maxHamming = 3,
        guardBucket = guard,
        guardAdvice = "this corpus is already exact-deduped, so the " +
          "oversized bucket is DISTINCT near-identical mass (templated " +
          "or boilerplate content) and the exact contract's output is " +
          "genuinely quadratic here — raise guardBucket consciously or " +
          "switch to the capped estimate (the q202 form)")
      .join(sizes.select($"doc_id".as("id_a"), $"n_copies".as("n_a")), "id_a")
      .join(sizes.select($"doc_id".as("id_b"), $"n_copies".as("n_b")), "id_b")
      .select($"id_a", $"id_b", $"hamming", $"n_a", $"n_b",
        ($"n_a" * $"n_b").as("implied_pairs"))
      .orderBy($"id_a", $"id_b")
  }

  val q203Sql: String =
    s"""WITH g AS (SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id,
      |    CAST(count(*) AS BIGINT) AS n_copies
      |  FROM documents GROUP BY 1),
      |reps AS (SELECT d.doc_id, d.text, g.n_copies
      |  FROM documents d JOIN g ON d.doc_id = g.keep_id),
      |${simhashChainSqlFrom("reps")},
      |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
      |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      |  FROM sh a JOIN sh b ON a.id < b.id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3)
      |SELECT p.id_a, p.id_b, p.hamming, ra.n_copies AS n_a, rb.n_copies AS n_b,
      |  CAST(ra.n_copies * rb.n_copies AS BIGINT) AS implied_pairs
      |FROM pairs p JOIN reps ra ON p.id_a = ra.doc_id
      |  JOIN reps rb ON p.id_b = rb.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  /** The 64-bit SimHash chain (tokens → TWO rolling hash families →
    * per-half bit votes), kept as two 32-bit halves `sh64(id, sh_lo,
    * sh_hi)` so the replay never needs unsigned-64 arithmetic —
    * Hamming on the 64-bit signature is the sum of the halves'
    * distances. Mirrors [[graft.functions.HashUtil.simHash64]]
    * (low half = the base-31 chain `simhashChainSqlFrom` replays,
    * high half = base-131). */
  private def simhash64ChainSqlFrom(src: String): String =
    s"""toks64 AS (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS ts FROM $src),
      |th64 AS (SELECT id,
      |    list_transform(ts, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(t)), i -> CAST(unicode(substr(t, i, 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 4294967296)) AS hs_lo,
      |    list_transform(ts, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(t)), i -> CAST(unicode(substr(t, i, 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 131 + x) % 4294967296)) AS hs_hi FROM toks64),
      |sh64 AS (SELECT id,
      |  list_sum(list_transform(generate_series(0,31), j ->
      |    CASE WHEN list_sum(list_transform(hs_lo, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |    THEN 1 << j ELSE 0 END)) AS sh_lo,
      |  list_sum(list_transform(generate_series(0,31), j ->
      |    CASE WHEN list_sum(list_transform(hs_hi, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |    THEN 1 << j ELSE 0 END)) AS sh_hi FROM th64)""".stripMargin

  /** q207: q203's dedup-first composition at the WIDE band geometry
    * ([[graft.ext.SimHashDedup.nearDupPairsWide]] — 4 × 16-bit bands
    * over the 64-bit signature) — the operating point the factor-100
    * distinct-text stress motivated: with genuinely distinct contents
    * growing past ~10⁵, q203's 8-bit banded candidates (Θ(n²/256))
    * turned super-linear in the 10×→100× decade (marginal exponent
    * ≈ 1.3, SCALESTRESS r18), while 16-bit buckets (n/65536) defer
    * the same quadratic by 256×. Hamming is measured on the 64-bit
    * signature (a tighter near-dup criterion than q203's 32-bit one);
    * the oracle brute-forces the identical metric over the deduped
    * reps, so the green hash certifies both the two-family signature
    * arithmetic and the wide pigeonhole banding. */
  def q207DedupFirstSimHashWide(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = graft.ext.Dedup.exactDedupWithCounts(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      .select($"doc_id", $"text", $"n_copies")
      .localCheckpoint(false) // feeds the band join and both size joins
    val sizes = reps.select($"doc_id", $"n_copies")
    // the default absolute guard suffices here: wide buckets grow as
    // survivors/65536, so 8192 holds headroom past ~5·10⁸ DISTINCT
    // contents — no survivor-scaled raise needed at any plausible sf
    SimHashDedup.nearDupPairsWide(reps, "doc_id", "text", maxHamming = 3,
        guardAdvice = "this corpus is already exact-deduped and wide-banded, " +
          "so the oversized bucket is an extreme density of near-identical " +
          "DISTINCT mass — raise guardBucket consciously or switch to the " +
          "capped estimate (the q202 form)")
      .join(sizes.select($"doc_id".as("id_a"), $"n_copies".as("n_a")), "id_a")
      .join(sizes.select($"doc_id".as("id_b"), $"n_copies".as("n_b")), "id_b")
      .select($"id_a", $"id_b", $"hamming", $"n_a", $"n_b",
        ($"n_a" * $"n_b").as("implied_pairs"))
      .orderBy($"id_a", $"id_b")
  }

  val q207Sql: String =
    s"""WITH g AS (SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id,
      |    CAST(count(*) AS BIGINT) AS n_copies
      |  FROM documents GROUP BY 1),
      |reps AS (SELECT d.doc_id, d.text, g.n_copies
      |  FROM documents d JOIN g ON d.doc_id = g.keep_id),
      |${simhash64ChainSqlFrom("reps")},
      |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
      |    CAST(bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) AS BIGINT) AS hamming
      |  FROM sh64 a JOIN sh64 b ON a.id < b.id
      |  WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3)
      |SELECT p.id_a, p.id_b, p.hamming, ra.n_copies AS n_a, rb.n_copies AS n_b,
      |  CAST(ra.n_copies * rb.n_copies AS BIGINT) AS implied_pairs
      |FROM pairs p JOIN reps ra ON p.id_a = ra.doc_id
      |  JOIN reps rb ON p.id_b = rb.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  /** q205: the INCREMENTAL twin of q203 — the crawl-ingest shape of
    * the exact-contract dedup-first posture. Stage order per side,
    * then a cross-split probe:
    *   1. standing corpus (doc_id < 250): exact-dedup with counts —
    *      reps + n_copies, one digest exchange;
    *   2. arrivals (doc_id ≥ 250): exact clones of the STANDING
    *      corpus drop first (anti-join on 16-byte digests — the q69
    *      discipline; at 100 TB a crawl batch is mostly known
    *      content), then the remainder self-dedups with counts;
    *   3. the fresh reps probe the standing reps' banded SimHash
    *      index ([[graft.ext.SimHashDedup.nearDupAgainstIndex]] —
    *      first-match-band emission, exact by pigeonhole; the
    *      snapshot travels as 18-byte band rows, never text).
    * Output carries both clone-group sizes, `implied_pairs` =
    * n_corpus·n_fresh, and `n_dropped_corpus` — how many arrivals
    * were dropped at stage 2 as exact clones of THIS standing
    * content. Reconstructibility is therefore precise, not total:
    * the emitted rows imply every raw cross pair between a SURVIVING
    * arrival copy and a standing copy (implied_pairs), and the
    * within-group exact-dup pairs are q18's C(n,2) arithmetic; a
    * DROPPED arrival is bit-identical to its standing twin, so its
    * near-dup neighborhood EQUALS the twin's — raw pairs between a
    * dropped arrival and some OTHER standing content are recoverable
    * by joining `n_dropped_corpus` with the STANDING-side near-dup
    * relation (the q203 composition over the standing split), not
    * from this output alone. Nothing quadratic materializes at any
    * stage. The oracle replays all three stages plus the brute-force
    * cross pairs and the dropped-clone counts. */
  def q205DedupFirstProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Dedup
    import graft.functions.TextFunctions.contentHash
    val docs = Tables.load(s, dir, "documents")
    val standingReps = Dedup.exactDedupWithCounts(
        docs.filter($"doc_id" < 250), "doc_id", "text")
      .select($"doc_id", $"text", $"n_copies")
      .localCheckpoint(false) // feeds the band index, digests, and the size join
    val knownHashes = standingReps.select(contentHash($"text").as("__gch"))
    val freshOnly = docs.filter($"doc_id" >= 250)
      .withColumn("__gch", contentHash($"text"))
      .join(knownHashes, Seq("__gch"), "left_anti")
      .drop("__gch")
    val freshReps = Dedup.exactDedupWithCounts(freshOnly, "doc_id", "text")
      .select($"doc_id", $"text", $"n_copies")
      .localCheckpoint(false)
    // dropped-clone accounting: arrivals that matched a STANDING digest
    // at stage 2, counted per standing rep — the piece that makes the
    // raw relation recoverable (see scaladoc); digests only, no text
    val dropped = docs.filter($"doc_id" >= 250)
      .select(contentHash($"text").as("__gch"))
      .join(standingReps.select($"doc_id".as("corpus_id"),
        contentHash($"text").as("__gch")), Seq("__gch"))
      .groupBy($"corpus_id").agg(count(lit(1)).as("n_dropped_corpus"))
    SimHashDedup.nearDupAgainstIndex(freshReps, "doc_id", "text",
        SimHashDedup.bandedIndex(standingReps, "doc_id", "text"))
      .join(standingReps.select($"doc_id".as("corpus_id"), $"n_copies".as("n_corpus")),
        "corpus_id")
      .join(freshReps.select($"doc_id".as("fresh_id"), $"n_copies".as("n_fresh")),
        "fresh_id")
      .join(dropped, Seq("corpus_id"), "left_outer")
      .select($"corpus_id", $"fresh_id", $"hamming", $"n_corpus", $"n_fresh",
        ($"n_corpus" * $"n_fresh").as("implied_pairs"),
        coalesce($"n_dropped_corpus", lit(0L)).as("n_dropped_corpus"))
      .orderBy($"corpus_id", $"fresh_id")
  }

  val q205Sql: String =
    s"""WITH sg AS (SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id,
      |    CAST(count(*) AS BIGINT) AS n_copies
      |  FROM documents WHERE doc_id < 250 GROUP BY 1),
      |sreps AS (SELECT d.doc_id, d.text, sg.n_copies
      |  FROM documents d JOIN sg ON d.doc_id = sg.keep_id),
      |fg AS (SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id,
      |    CAST(count(*) AS BIGINT) AS n_copies
      |  FROM documents WHERE doc_id >= 250
      |    AND md5(lower(trim(text))) NOT IN (SELECT h FROM sg)
      |  GROUP BY 1),
      |freps AS (SELECT d.doc_id, d.text, fg.n_copies
      |  FROM documents d JOIN fg ON d.doc_id = fg.keep_id),
      |allr AS (SELECT doc_id, text FROM sreps UNION ALL SELECT doc_id, text FROM freps),
      |drops AS (SELECT sg2.keep_id AS corpus_id, CAST(count(*) AS BIGINT) AS n_dropped
      |  FROM documents a JOIN sg sg2 ON md5(lower(trim(a.text))) = sg2.h
      |  WHERE a.doc_id >= 250 GROUP BY sg2.keep_id),
      |${simhashChainSqlFrom("allr")}
      |SELECT a.doc_id AS corpus_id, b.doc_id AS fresh_id,
      |  CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming,
      |  a.n_copies AS n_corpus, b.n_copies AS n_fresh,
      |  CAST(a.n_copies * b.n_copies AS BIGINT) AS implied_pairs,
      |  CAST(COALESCE(dr.n_dropped, 0) AS BIGINT) AS n_dropped_corpus
      |FROM sreps a JOIN sh sa ON a.doc_id = sa.id
      |  CROSS JOIN freps b JOIN sh sb ON b.doc_id = sb.id
      |  LEFT JOIN drops dr ON dr.corpus_id = a.doc_id
      |WHERE bit_count(xor(sa.sh, sb.sh)) <= 3
      |ORDER BY corpus_id, fresh_id""".stripMargin

  /** q69: incremental dedup — a "new batch" (doc_id ≥ 250) deduped
    * against an already-ingested corpus (doc_id < 250) that travels
    * only as 16-byte content digests, then self-deduped. The daily
    * crawl-ingest shape: the reference corpus text never moves. */
  def q69IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Dedup
    val docs = Tables.load(s, dir, "documents")
    val knownHashes = Dedup.exactDupGroups(docs.filter($"doc_id" < 250), "doc_id", "text")
      .select($"content_hash")
    Dedup.dedupAgainstCorpus(docs.filter($"doc_id" >= 250), "doc_id", "text", knownHashes)
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  val q69Sql: String =
    """WITH known AS (
      |  SELECT DISTINCT md5(lower(trim(text))) AS h FROM documents WHERE doc_id < 250),
      |fresh AS (
      |  SELECT * FROM documents
      |  WHERE doc_id >= 250 AND md5(lower(trim(text))) NOT IN (SELECT h FROM known)),
      |kept AS (
      |  SELECT doc_id, lang, source,
      |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
      |  FROM fresh)
      |SELECT doc_id, lang, source FROM kept WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** q120: incremental NEAR-dup — q69's crawl-ingest shape upgraded
    * from exact digests to MinHash-LSH: the already-ingested corpus
    * (doc_id < 250) travels only as its banded signature index
    * ([[MinHashLsh.bandedIndex]], ~200 bytes/doc, never text), and each
    * new-batch doc (doc_id ≥ 250) probes just its own band buckets.
    * Pairs with estimated Jaccard ≥ 0.5 are the near-dups a crawl
    * pipeline would drop before they reach the corpus. */
  def q120IncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    // in production this index is PERSISTED from the previous ingest;
    // building it here stands in for loading the snapshot
    val index = MinHashLsh.bandedIndex(docs.filter($"doc_id" < 250), "doc_id", "text")
    MinHashLsh.nearDupAgainstIndex(docs.filter($"doc_id" >= 250), "doc_id", "text", index)
      .orderBy($"corpus_id", $"fresh_id")
  }

  val q120Sql: String =
    s"""WITH $sigChainSql,
      |cand AS (SELECT DISTINCT a.id AS corpus_id, b.id AS fresh_id
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.slice = b.slice
      |  WHERE a.id < 250 AND b.id >= 250),
      |est AS (SELECT corpus_id, fresh_id,
      |  CAST(list_sum(list_transform(generate_series(1,16),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_sim
      |  FROM cand JOIN sig sa ON cand.corpus_id = sa.id JOIN sig sb ON cand.fresh_id = sb.id)
      |SELECT corpus_id, fresh_id, est_sim FROM est WHERE est_sim >= 0.5
      |ORDER BY corpus_id, fresh_id""".stripMargin

  /** q137: approximation-quality evaluation — the confusion matrix of
    * MinHash-LSH (q20, est ≥ 0.5) against the exact-Jaccard baseline
    * (q19's inverted-index method at true J ≥ 0.5): TP/FP/FN plus
    * integer-ppm precision and recall. Every curation pipeline that
    * swaps exact dedup for LSH needs this measurement as a first-class
    * query, not a notebook; both the estimator and the ground truth
    * are themselves oracle-verified operators, and the eval is one
    * full-outer join of two tiny pair sets + a scalar rollup. */
  /** The exact-Jaccard truth pairs (J ≥ 0.5, values included) and the
    * banded-LSH estimate pairs (est ≥ 0.5) the q137/q147 evaluations
    * BOTH judge against — corpus-version artifacts (the q183
    * sharedSpanTruth discipline): the truth side's full shingle
    * explode + two-pointer verify is the dominant cost of each eval
    * and is IDENTICAL between them, so it materializes once per
    * (session, dir). Pair sets are candidate-bounded (df-capped
    * posting lists), far smaller than the corpus. */
  private val lshEvalCache = SessionArtifact[(DataFrame, DataFrame)]("lsh_eval")

  private def sharedLshEvalPairs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    lshEvalCache(s, dir) {
      // The truth side is a row FILTER of the session θ=0.2 verified-pairs
      // artifact: the exact verification is deterministic over the
      // identical candidate set, and J ≥ 0.5 pairs all clear the θ=0.2
      // size prefilter (J ≤ size ratio), so the filtered frame equals a
      // direct θ=0.5 run row for row. The est side is the canonical pair
      // cache. Neither re-scans the corpus text here.
      val truthPairs = TextQueries.sharedJaccardPairs(s, dir)
      val estPairs = sharedLshPairs(s, dir)
      (truthPairs.filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard")),
        estPairs.select(col("id_a"), col("id_b"), col("est_sim")))
    }

  def q137LshEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (truthP, estP) = sharedLshEvalPairs(s, dir)
    val truth = truthP.select($"id_a", $"id_b", lit(1).as("t"))
    val est = estP.select($"id_a", $"id_b", lit(1).as("e"))
    truth.join(est, Seq("id_a", "id_b"), "full_outer")
      .agg(
        count(when($"t".isNotNull && $"e".isNotNull, 1)).as("tp"),
        count(when($"t".isNull && $"e".isNotNull, 1)).as("fp"),
        count(when($"t".isNotNull && $"e".isNull, 1)).as("fn"))
      .select($"tp", $"fp", $"fn",
        expr("CASE WHEN tp + fp > 0 THEN tp * 1000000L DIV (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn > 0 THEN tp * 1000000L DIV (tp + fn) END")
          .as("recall_ppm"))
  }

  /** Shared oracle block for q137/q147: the exact-Jaccard truth pairs
    * `jt(id_a, id_b, jaccard)` (J ≥ 0.5) and the LSH estimate pairs
    * `mest(id_a, id_b, est_sim)` (est ≥ 0.5), values included. The two
    * eval oracles must replay the SAME pair sets. */
  private val lshEvalPairsSql: String =
    s"""jdocs AS (
      |  SELECT doc_id AS id,
      |    CASE WHEN length(text) >= 8 THEN
      |      list_distinct(list_transform(
      |        list_transform(generate_series(1, length(text)-7), i -> substr(text, i, 8)),
      |        s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |          (acc, x) -> (acc * 31 + x) % 1000000007)))
      |    ELSE CAST([] AS BIGINT[]) END AS sh_set
      |  FROM documents),
      |jinv AS (SELECT id, unnest(sh_set) AS sh FROM jdocs),
      |jrare AS (SELECT id, sh FROM
      |  (SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df FROM jinv) t WHERE df <= 20),
      |jcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM jrare a JOIN jrare b USING (sh) WHERE a.id < b.id),
      |jt AS (SELECT id_a, id_b, jaccard FROM (
      |  SELECT id_a, id_b,
      |    CAST(len(list_intersect(da.sh_set, db.sh_set)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(da.sh_set, db.sh_set))) AS DOUBLE) AS jaccard
      |  FROM jcand JOIN jdocs da ON jcand.id_a = da.id JOIN jdocs db ON jcand.id_b = db.id) x
      |  WHERE jaccard >= 0.5),
      |$sigChainSql,
      |$bandCapSql,
      |mcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM bkept a JOIN bkept b ON a.b = b.b AND a.slice = b.slice AND a.id < b.id),
      |mest AS (SELECT id_a, id_b, est_sim FROM (
      |  SELECT id_a, id_b,
      |    CAST(list_sum(list_transform(generate_series(1,16),
      |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_sim
      |  FROM mcand JOIN sig sa ON mcand.id_a = sa.id JOIN sig sb ON mcand.id_b = sb.id) y
      |  WHERE est_sim >= 0.5)""".stripMargin

  val q137Sql: String =
    s"""WITH $lshEvalPairsSql,
      |f AS (SELECT (jt.id_a IS NOT NULL) AS t, (mest.id_a IS NOT NULL) AS e
      |  FROM jt FULL OUTER JOIN mest ON jt.id_a = mest.id_a AND jt.id_b = mest.id_b),
      |c AS (SELECT
      |    CAST(COUNT(CASE WHEN t AND e THEN 1 END) AS BIGINT) AS tp,
      |    CAST(COUNT(CASE WHEN NOT t AND e THEN 1 END) AS BIGINT) AS fp,
      |    CAST(COUNT(CASE WHEN t AND NOT e THEN 1 END) AS BIGINT) AS fn FROM f)
      |SELECT tp, fp, fn,
      |  CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) END AS precision_ppm,
      |  CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) END AS recall_ppm
      |FROM c""".stripMargin

  /** q147: LSH operating CURVE — q137's confusion matrix swept across
    * similarity thresholds {0.5, 0.625, 0.75, 0.875} (multiples of 1/16
    * so every comparison against the 16-position MinHash estimate is
    * exact) in ONE pass over the same two pair sets: per threshold t,
    * tp = (J ≥ t ∧ est ≥ t), fp = (est ≥ t ∧ ¬(J ≥ t)), fn = (J ≥ t ∧
    * ¬(est ≥ t)), with integer-ppm precision/recall. Both pair sets
    * carry their scores above the shared 0.5 floor (= the lowest
    * threshold, so membership and classification agree exactly at
    * every t). The curve is what picks an LSH threshold for a corpus —
    * a point estimate (q137) says nothing about the tradeoff slope. */
  def q147LshRoc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (truth, est) = sharedLshEvalPairs(s, dir)
    val f = truth.join(est, Seq("id_a", "id_b"), "full_outer")
      .select($"jaccard".as("j"), $"est_sim".as("e"))
    val thrs = array(Seq(0.5, 0.625, 0.75, 0.875).map(lit): _*)
    f.select($"j", $"e", explode(thrs).as("thr"))
      .groupBy(($"thr" * 1000000).cast("long").as("thr_ppm"))
      .agg(
        count(when($"j" >= $"thr" && $"e" >= $"thr", 1)).as("tp"),
        count(when(($"j".isNull || $"j" < $"thr") && $"e" >= $"thr", 1)).as("fp"),
        count(when($"j" >= $"thr" && ($"e".isNull || $"e" < $"thr"), 1)).as("fn"))
      .select($"thr_ppm", $"tp", $"fp", $"fn",
        expr("CASE WHEN tp + fp > 0 THEN tp * 1000000L DIV (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn > 0 THEN tp * 1000000L DIV (tp + fn) END")
          .as("recall_ppm"))
      .orderBy($"thr_ppm")
  }

  val q147Sql: String =
    s"""WITH $lshEvalPairsSql,
      |f AS (SELECT jt.jaccard AS j, mest.est_sim AS e
      |  FROM jt FULL OUTER JOIN mest ON jt.id_a = mest.id_a AND jt.id_b = mest.id_b),
      |thr AS (SELECT unnest([0.5, 0.625, 0.75, 0.875]) AS thr),
      |c AS (SELECT CAST(thr.thr * 1000000 AS BIGINT) AS thr_ppm,
      |    CAST(COUNT(CASE WHEN j >= thr.thr AND e >= thr.thr THEN 1 END) AS BIGINT) AS tp,
      |    CAST(COUNT(CASE WHEN (j IS NULL OR j < thr.thr) AND e >= thr.thr THEN 1 END) AS BIGINT) AS fp,
      |    CAST(COUNT(CASE WHEN j >= thr.thr AND (e IS NULL OR e < thr.thr) THEN 1 END) AS BIGINT) AS fn
      |  FROM f CROSS JOIN thr GROUP BY thr.thr)
      |SELECT thr_ppm, tp, fp, fn,
      |  CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) END AS precision_ppm,
      |  CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) END AS recall_ppm
      |FROM c ORDER BY thr_ppm""".stripMargin

  /** Session-scoped cache of the PERSISTED banded LSH index of the
    * standing corpus (doc_id < 250): built once per (session, dir),
    * written to parquet (corpus-sized, natural partitioning — ~200 B
    * per doc per band, never text), and handed back as a LAZY scan, so
    * a probe against the result reads storage and touches no signing
    * code for the corpus side. This is the persisted half q120's
    * Scaladoc promised ("in production this index is PERSISTED from
    * the previous ingest") — the [[graft.ext.VectorIndexStore]]
    * discipline applied to the dedup family. */
  private val lshIndexCache = SessionArtifact[DataFrame]("lsh_index")

  private[queries] def sharedPersistedLshIndex(s: SparkSession, dir: String): DataFrame =
    lshIndexCache(s, dir) {
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val standing = Tables.load(s, dir, "documents").filter(col("doc_id") < 250)
      val fp = standing.agg(expr("bit_xor(doc_id)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "lsh_index", fp, Seq(
        "bands" -> MinHashLsh.bandedIndex(standing, "doc_id", "text")))
      reg.read(s, root, "lsh_index", v, "bands")
    }

  /** q173: incremental near-dup against the LOADED index — q120's
    * exact semantics, but the corpus side arrives from parquet storage
    * instead of being signed in-process: the crawl-ingest deployment
    * shape, where yesterday's index is an artifact on disk and only
    * the fresh batch pays signing cost. Shares q120's oracle (which
    * retrains signatures from raw text in SQL), so the green hash
    * certifies the banded index's storage round trip bit-lossless —
    * the q165 discipline applied to the dedup family. */
  def q173PersistedLshProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    MinHashLsh.nearDupAgainstIndex(docs.filter($"doc_id" >= 250),
        "doc_id", "text", sharedPersistedLshIndex(s, dir))
      .orderBy($"corpus_id", $"fresh_id")
  }

  /** q170: cross-source near-duplicate overlap matrix — how much of
    * each source pair duplicates each other, the question a corpus
    * mixer asks before weighting sources (two crawl dumps that are 40%
    * mutual near-dups are NOT two independent sources). Candidate pairs
    * come from the SAME banded-LSH path as q20 (never all-pairs); each
    * side joins to its source tag and the matrix aggregates to
    * source-pair granularity: n_pairs and the exact integer sum of
    * matching signature positions (sum_match16 = Σ est_sim·16, so
    * avg similarity is recoverable without a float column). The pair
    * key is orientation-normalized (least/greatest), so within-source
    * duplication lands on the diagonal. Scale shape: banded bucket
    * join → two id-keyed joins to the thin (id, source) projection →
    * one aggregation to ≤ sources² rows. At petabyte scale the source
    * tag would ride the banded index itself (+~10 B/row) and skip the
    * two joins; the join form keeps the index artifact source-agnostic. */
  def q170SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val pairs = sharedLshPairs(s, dir)
    val src = docs.select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("id_a"), $"source".as("src_a")), "id_a")
      .join(src.select($"doc_id".as("id_b"), $"source".as("src_b")), "id_b")
      .select(least($"src_a", $"src_b").as("source_a"),
        greatest($"src_a", $"src_b").as("source_b"),
        ($"est_sim" * 16).cast("long").as("m16"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"), sum($"m16").as("sum_match16"))
      .orderBy($"source_a", $"source_b")
  }

  val q170Sql: String =
    s"""WITH $sigChainSql,
      |$bandCapSql,
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM bkept a JOIN bkept b ON a.b = b.b AND a.slice = b.slice AND a.id < b.id),
      |est AS (SELECT id_a, id_b,
      |  list_sum(list_transform(generate_series(1,16),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS m16
      |  FROM cand JOIN sig sa ON cand.id_a = sa.id JOIN sig sb ON cand.id_b = sb.id),
      |flt AS (SELECT * FROM est WHERE m16 * 2 >= 16),
      |tagged AS (SELECT least(da.source, db.source) AS source_a,
      |    greatest(da.source, db.source) AS source_b, flt.m16
      |  FROM flt JOIN documents da ON flt.id_a = da.doc_id
      |           JOIN documents db ON flt.id_b = db.doc_id)
      |SELECT source_a, source_b, COUNT(*) AS n_pairs,
      |  CAST(SUM(m16) AS BIGINT) AS sum_match16
      |FROM tagged GROUP BY source_a, source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Shared DuckDB replay of the exact duplicated-n-gram chain over
    * `documents` (CTEs `toks`, `g`, `dup`, `hits`) — q177 and q178 must
    * never let the gram recipe fork. Tokenization is the engine-wide
    * trim/lower/whitespace split; gram identity is the joined token
    * STRING (collision-free — see [[graft.ext.DupNgrams]]). */
  /** The ONE gram recipe, CTE names prefixed so other oracles (q197's
    * registry audit) can compose it next to fragments that also spell
    * a `toks` — emits `${p}toks (id, t)` and `${p}g (id, pos, gram)`. */
  private[queries] def gramChainSqlFor(p: String): String =
    s"""${p}toks AS (SELECT doc_id AS id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
      |  FROM documents),
      |${p}g AS (SELECT id, CAST(i AS BIGINT) AS pos, array_to_string(t[i:i+7], ' ') AS gram
      |  FROM ${p}toks, unnest(generate_series(1, len(t) - 7)) AS u(i) WHERE len(t) >= 8)""".stripMargin

  private val gramChainSql: String = gramChainSqlFor("")

  private val dupGramChainSql: String =
    s"""$gramChainSql,
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      |hits AS (SELECT id, pos FROM g JOIN dup USING (gram))""".stripMargin

  /** Shared DuckDB replay of the per-doc interval-union coverage tail
    * (consumes `toks` + `hits`); `docFilter` restricts the reported doc
    * slice (q179 probes only the fresh batch). */
  private def coverageTailSql(docFilter: String): String =
    s"""gaps AS (SELECT id, pos,
      |    pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) AS gap FROM hits),
      |cov AS (SELECT id, count(*) AS dup_grams,
      |    sum(least(CAST(8 AS BIGINT), coalesce(gap, 8))) AS covered FROM gaps GROUP BY id)
      |SELECT t.id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(cov.dup_grams, 0) AS BIGINT) AS dup_grams,
      |  CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
      |  CAST(CASE WHEN len(t.t) > 0
      |    THEN coalesce(cov.covered, 0) * 1000000 // len(t.t) ELSE 0 END AS BIGINT) AS coverage_ppm
      |FROM toks t LEFT JOIN cov ON t.id = cov.id$docFilter
      |ORDER BY t.id""".stripMargin

  /** q177: exact duplicated-n-gram coverage — the token-level exact
    * substring dedup statistic (Lee et al. 2022): per doc, how many
    * 8-token grams occur ≥2× corpus-wide and how many tokens their
    * spans cover (exact interval-union). This is the memorization-risk
    * profile a pretraining pipeline gates on BEFORE destructive
    * pruning (q178 is the destructive half). Plan shape: explode →
    * one gram-keyed shuffle (dict) → left-semi back → one (doc, pos)
    * window — no pair emission, linear at 100 TB (see
    * [[graft.ext.DupNgrams]] for the hash-key scale lever). */
  def q177DupNgramCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.DupNgrams.coverage(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"id")
  }

  val q177Sql: String =
    s"""WITH $dupGramChainSql,
      |${coverageTailSql("")}""".stripMargin

  /** q178: exact substring pruning — rebuild each doc keeping only
    * tokens NOT covered by a corpus-duplicated 8-gram (the destructive
    * half of q177; docs with nothing duplicated pass through modulo
    * the lower/whitespace normalization). Covered positions enumerate
    * per duplicated START (n × starts, not doc length), distinct, and
    * mask row-locally. */
  def q178DupNgramPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.DupNgrams.prune(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"id")
  }

  val q178Sql: String =
    s"""WITH $dupGramChainSql,
      |covpos AS (SELECT DISTINCT id, p FROM hits, unnest(generate_series(pos, pos + 7)) AS v(p)),
      |tk AS (SELECT id, CAST(i AS BIGINT) AS p, t[i] AS tok
      |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
      |kept AS (SELECT tk.id, tk.p, tk.tok FROM tk ANTI JOIN covpos USING (id, p)),
      |agg AS (SELECT id, count(*) AS kept_tokens,
      |    string_agg(tok, ' ' ORDER BY p) AS pruned_text FROM kept GROUP BY id)
      |SELECT t.id, CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
      |  coalesce(a.pruned_text, '') AS pruned_text
      |FROM toks t LEFT JOIN agg a ON t.id = a.id
      |ORDER BY t.id""".stripMargin

  /** The duplicated-gram dictionary of the STANDING corpus (doc_id <
    * 250), persisted to parquet once per (session, dir) and served back
    * as a loaded lazy scan — the [[graft.ext.VectorIndexStore]] /
    * `sharedPersistedLshIndex` discipline applied to exact substring
    * dedup. */
  private val dupDictCache = SessionArtifact[DataFrame]("dup_dict")

  private[queries] def sharedPersistedDupDict(s: SparkSession, dir: String): DataFrame =
    dupDictCache(s, dir) {
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val corpus = Tables.load(s, dir, "documents").filter(col("doc_id") < 250)
      val fp = corpus.agg(expr("bit_xor(doc_id)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "dupgram_dict", fp, Seq(
        "dict" -> graft.ext.DupNgrams.dupGramDict(
          graft.ext.DupNgrams.gramPositions(corpus, "doc_id", "text"))))
      reg.read(s, root, "dupgram_dict", v, "dict")
    }

  /** q179: incremental exact-substring probe against the LOADED
    * dictionary — the fresh batch (doc_id ≥ 250) gets its q177-style
    * coverage profile w.r.t. grams already duplicated in the standing
    * corpus, which arrives from parquet storage: the serving side never
    * rescans or regroups the corpus (the q120/q173 ingest split applied
    * to exact substring dedup). The oracle rebuilds the dictionary from
    * raw text in SQL, so the green hash certifies the storage round
    * trip lossless. */
  def q179PersistedDupgramProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fresh = Tables.load(s, dir, "documents").filter($"doc_id" >= 250)
    graft.ext.DupNgrams.coverageAgainstDict(fresh, "doc_id", "text",
        sharedPersistedDupDict(s, dir))
      .orderBy($"id")
  }

  val q179Sql: String =
    s"""WITH $gramChainSql,
      |dup AS (SELECT gram FROM g WHERE id < 250 GROUP BY gram HAVING count(*) >= 2),
      |hits AS (SELECT id, pos FROM g JOIN dup USING (gram) WHERE id >= 250),
      |${coverageTailSql("\nWHERE t.id >= 250")}""".stripMargin

  /** Generations 1 and 2 of the standing gram-count state: gen1 is the
    * standing corpus's (doc_id < 250) FULL counts persisted to parquet,
    * gen2 is gen1 merged with an ingest batch's (250 ≤ doc_id < 375)
    * counts and persisted as the next generation — the q167/q168
    * build/add lifecycle applied to the dedup dictionary. Both hands
    * back LOADED lazy scans. */
  private val dupCountsCache = SessionArtifact[(DataFrame, DataFrame)]("dup_counts")

  private[queries] def sharedDupgramGenerations(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    dupCountsCache(s, dir) {
      // the two dictionary generations ARE registry versions of one
      // kind — exactly the coexist-and-pin lifecycle the registry
      // models (gen2 merges the ingest batch into LOADED gen1)
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val docs = Tables.load(s, dir, "documents")
      def fpOf(df: DataFrame): Long =
        df.agg(expr("bit_xor(doc_id)")).collect()(0).getLong(0)
      val standing = docs.filter(col("doc_id") < 250)
      val v1 = reg.publish(s, root, "dupgram_counts", fpOf(standing), Seq(
        "counts" -> graft.ext.DupNgrams.gramCounts(
          graft.ext.DupNgrams.gramPositions(standing, "doc_id", "text"))))
      val gen1 = reg.read(s, root, "dupgram_counts", v1, "counts")
      val batch = graft.ext.DupNgrams.gramCounts(graft.ext.DupNgrams.gramPositions(
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 375), "doc_id", "text"))
      val v2 = reg.publish(s, root, "dupgram_counts",
        fpOf(docs.filter(col("doc_id") < 375)), Seq(
          "counts" -> graft.ext.DupNgrams.mergeCounts(gen1, batch)))
      (gen1, reg.read(s, root, "dupgram_counts", v2, "counts"))
    }

  /** q182: incremental dictionary UPDATE audit — merge an ingest
    * batch into the standing gram-count state and report what changed,
    * computed entirely from the two LOADED generations (cb = gen2 −
    * gen1 per gram): per transition class, how many grams and how
    * many occurrences the batch added. `promoted` is the class exact
    * substring dedup exists for — grams seen ONCE before that the
    * batch turned into duplications (invisible to any dict-only state,
    * which is why the full counts persist). `gen2_total` rows up the
    * new standing state. The oracle recounts both slices from raw
    * text, so the green hash certifies both generation round trips
    * AND the merge arithmetic. */
  def q182DupgramDictUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (gen1, gen2) = sharedDupgramGenerations(s, dir)
    val joined = gen2.select($"gram", $"n_occ".as("c2"))
      .join(gen1.select($"gram", $"n_occ".as("c0")), Seq("gram"), "left")
      .select($"gram", coalesce($"c0", lit(0L)).as("c0"),
        ($"c2" - coalesce($"c0", lit(0L))).as("cb"))
    val touched = joined.filter($"cb" > 0)
      .withColumn("class",
        when($"c0" === 0 && $"cb" === 1, "new_unique")
          .when($"c0" === 0, "new_dup")
          .when($"c0" === 1, "promoted")
          .otherwise("grown_dup"))
      .groupBy($"class")
      .agg(count(lit(1)).as("n_grams"), sum($"cb").as("occ_added"))
    val tot = gen2.agg(count(lit(1)).as("n_grams"), sum($"n_occ").as("occ_added"))
      .select(lit("gen2_total").as("class"), $"n_grams", $"occ_added")
    touched.unionByName(tot).orderBy($"class")
  }

  val q182Sql: String =
    s"""WITH $gramChainSql,
      |st AS (SELECT gram, COUNT(*) AS c0 FROM g WHERE id < 250 GROUP BY gram),
      |bt AS (SELECT gram, COUNT(*) AS cb FROM g WHERE id >= 250 AND id < 375 GROUP BY gram),
      |cls AS (SELECT COALESCE(st.c0, 0) AS c0, bt.cb
      |  FROM bt LEFT JOIN st USING (gram)),
      |lab AS (SELECT CASE WHEN c0 = 0 AND cb = 1 THEN 'new_unique'
      |                    WHEN c0 = 0 THEN 'new_dup'
      |                    WHEN c0 = 1 THEN 'promoted'
      |                    ELSE 'grown_dup' END AS class, cb FROM cls),
      |agg AS (SELECT class, COUNT(*) AS n_grams, CAST(SUM(cb) AS BIGINT) AS occ_added
      |  FROM lab GROUP BY class),
      |tot AS (SELECT 'gen2_total' AS class, COUNT(*) AS n_grams,
      |    CAST(SUM(c) AS BIGINT) AS occ_added FROM (
      |      SELECT COALESCE(st.c0, 0) + COALESCE(bt.cb, 0) AS c
      |      FROM st FULL OUTER JOIN bt USING (gram)) t)
      |SELECT class, n_grams, occ_added FROM agg
      |UNION ALL SELECT class, n_grams, occ_added FROM tot
      |ORDER BY class""".stripMargin

  /** q186: cross-source EXACT-substring provenance matrix — which
    * source pairs share verbatim 8-gram content, counted as distinct
    * shared grams per ordered pair: q170 answers the near-dup
    * question at document granularity (MinHash estimate), this
    * answers the boilerplate-provenance question at span granularity
    * EXACTLY — two crawls sharing thousands of verbatim grams carry
    * copied boilerplate even when no whole document is a near-dup.
    * Scale shape: the (gram, source) presence set is distinct-
    * collapsed BEFORE the self-join, so a gram in k sources emits
    * ≤ k² pairs (k ≤ #sources, a constant) — never doc×doc; the
    * gram recipe is the q177 chain verbatim. */
  def q186SourceGramOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val grams = graft.ext.DupNgrams.gramPositions(docs, "doc_id", "text")
    // (A gram-keyed collect_set + in-row pair expansion variant was
    // measured in r18's optimization round and REVERTED: the distinct
    // below dedups map-side in codegen'd HashAggregate and the
    // self-join REUSES its exchange, while collect_set plans a
    // non-codegen ObjectHashAggregate over every position row — same
    // shuffle bytes, slower operator.)
    val gs = grams
      .join(docs.select($"doc_id".as("id"), $"source"), "id")
      .select($"gram", $"source").distinct()
    gs.as("a").join(gs.as("b"), "gram")
      .filter($"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count_distinct($"gram").as("n_shared_grams"))
      .orderBy($"source_a", $"source_b")
  }

  val q186Sql: String =
    s"""WITH $gramChainSql,
      |gs AS (SELECT DISTINCT g.gram, d.source
      |  FROM g JOIN documents d ON g.id = d.doc_id),
      |pr AS (SELECT a.source AS source_a, b.source AS source_b, a.gram
      |  FROM gs a JOIN gs b ON a.gram = b.gram AND a.source < b.source)
      |SELECT source_a, source_b, COUNT(DISTINCT gram) AS n_shared_grams
      |FROM pr GROUP BY source_a, source_b
      |ORDER BY source_a, source_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q186_source_gram_overlap" -> (q186SourceGramOverlap _),
    "q182_dupgram_dict_update" -> (q182DupgramDictUpdate _),
    "q177_dup_ngram_coverage" -> (q177DupNgramCoverage _),
    "q178_dup_ngram_prune" -> (q178DupNgramPrune _),
    "q179_persisted_dupgram_probe" -> (q179PersistedDupgramProbe _),
    "q137_lsh_eval" -> (q137LshEval _),
    "q170_source_overlap" -> (q170SourceOverlap _),
    "q173_persisted_lsh_probe" -> (q173PersistedLshProbe _),
    "q147_lsh_roc" -> (q147LshRoc _),
    "q20_minhash_lsh" -> (q20MinHash _),
    "q200_lsh_bucket_cap" -> (q200LshBucketCap _),
    "q21_simhash" -> (q21SimHash _),
    "q202_simhash_bucket_cap" -> (q202SimHashCap _),
    "q203_dedup_first_simhash" -> (q203DedupFirstSimHash _),
    "q207_dedup_first_simhash_wide" -> (q207DedupFirstSimHashWide _),
    "q205_dedup_first_probe" -> (q205DedupFirstProbe _),
    "q69_incremental_dedup" -> (q69IncrementalDedup _),
    "q120_incremental_lsh" -> (q120IncrementalLsh _))

  val oracle: Map[String, String] = Map(
    "q186_source_gram_overlap" -> q186Sql,
    "q182_dupgram_dict_update" -> q182Sql,
    "q177_dup_ngram_coverage" -> q177Sql,
    "q178_dup_ngram_prune" -> q178Sql,
    "q179_persisted_dupgram_probe" -> q179Sql,
    "q137_lsh_eval" -> q137Sql,
    "q170_source_overlap" -> q170Sql,
    // q173 shares q120's oracle on purpose: same query semantics, the
    // engine side differing only in WHERE the index frames come from
    // (parquet storage) — the green hash proves the round trip lossless
    "q173_persisted_lsh_probe" -> q120Sql,
    "q147_lsh_roc" -> q147Sql,
    "q20_minhash_lsh" -> q20Sql,
    "q200_lsh_bucket_cap" -> q200Sql,
    "q21_simhash" -> q21Sql,
    "q202_simhash_bucket_cap" -> q202Sql,
    "q203_dedup_first_simhash" -> q203Sql,
    "q207_dedup_first_simhash_wide" -> q207Sql,
    "q205_dedup_first_probe" -> q205Sql,
    "q69_incremental_dedup" -> q69Sql,
    "q120_incremental_lsh" -> q120Sql)
}
