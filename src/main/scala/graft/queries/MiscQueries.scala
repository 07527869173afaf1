package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Multimodal
import graft.operators.SkewedAgg
import graft.operators.ColOps._

/** q28 (salted skew aggregation) and q29 (multimodal binary pipeline). */
object MiscQueries {

  /** q28: per-user event stats through the salted two-phase aggregate —
    * results provably identical to a plain GROUP BY (the oracle). */
  def q28SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SkewedAgg.saltedCountSum(Tables.loadEvents(s, dir), "user_id", dec($"value"))
      .select($"user_id", $"n", $"sum_value".cast("double").as("sum_value"))
      .orderBy($"user_id")
  }

  val q28Sql: String =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q29: multimodal with a REAL codec — PNG-encode a deterministic
    * RGB image per document ([[graft.ext.ImageCodec.synth]]), decode it
    * back through `javax.imageio`, and reduce the decoded pixels to
    * integer stats. PNG is lossless, so the oracle replays the pixel
    * formula directly — a hash match proves the decode reproduced every
    * pixel, not just the header. */
  def q29Multimodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // sort before the extractor (order-preserving map): an orderBy above
    // it would range-sample the child and run the decode twice — see q36
    val packed = graft.ext.ImageCodec.synthImagePayload(
      Tables.load(s, dir, "documents").select($"doc_id")
        .repartitionByRange($"doc_id").sortWithinPartitions($"doc_id"),
      "doc_id", format = "png")
    graft.ext.ImageCodec.extractImageFeatures(packed, "payload")
      .select($"doc_id", $"meta.format".as("format"), $"width", $"height",
        $"n_pixels", $"first_px", $"checksum", $"brightness")
  }

  val q29Sql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
      |s AS (SELECT doc_id, w, h,
      |  list_sum(list_transform(generate_series(0, w*h - 1), p ->
      |      (doc_id*7 + (p % w)*3 + (p // w)*5) % 256
      |    + ((p % w)*(p % w) + (p // w)) % 256
      |    + (doc_id + (p % w) + (p // w)*2) % 256)) AS total
      |  FROM d)
      |SELECT doc_id, 'image/png' AS format,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(w*h AS BIGINT) AS n_pixels,
      |  CAST((doc_id*7) % 256 AS BIGINT) AS first_px,
      |  CAST(total % 256 AS BIGINT) AS checksum,
      |  CAST(total AS DOUBLE) / (3.0 * w * h) AS brightness
      |FROM s ORDER BY doc_id""".stripMargin

  /** q41: skew-salted JOIN — events joined to a per-user dimension via
    * [[SkewedAgg.saltedJoin]]; the oracle is the plain join (results
    * are provably identical, the salt only spreads reducers). */
  def q41SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.loadEvents(s, dir)
    val userDim = ev.groupBy($"user_id")
      .agg(min($"sec").as("first_seen"), count(lit(1)).as("user_events"))
    SkewedAgg.saltedJoin(ev.select($"event_id", $"user_id", $"event_type", $"sec"),
        userDim, "user_id", saltBuckets = 8)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        dsum(dec(($"sec" - $"first_seen").cast("double"))).as("sum_age_sec"))
      .orderBy($"event_type")
  }

  val q41Sql: String =
    """WITH e AS (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |u AS (SELECT user_id, min(sec) AS first_seen, COUNT(*) AS user_events
      |      FROM e GROUP BY user_id)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(e.sec - u.first_seen AS DOUBLE) AS DECIMAL(12,2))) AS DOUBLE) AS sum_age_sec
      |FROM e JOIN u ON e.user_id = u.user_id
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q42: pivot-style conditional aggregation — per-user counts by
    * event type in one pass (count(when(...)) == FILTER clauses). */
  def q42Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.loadEvents(s, dir)
      .groupBy($"user_id")
      .agg(
        count(when($"event_type" === "click", 1)).as("clicks"),
        count(when($"event_type" === "view", 1)).as("views"),
        count(when($"event_type" === "purchase", 1)).as("purchases"),
        count(when($"event_type" === "signup", 1)).as("signups"),
        count(when($"event_type" === "error", 1)).as("errors"))
      .orderBy($"user_id")
  }

  val q42Sql: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (event_type = 'click') AS clicks,
      |  COUNT(*) FILTER (event_type = 'view') AS views,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchases,
      |  COUNT(*) FILTER (event_type = 'signup') AS signups,
      |  COUNT(*) FILTER (event_type = 'error') AS errors
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q59: frame sampling over the binary payload ([[Multimodal
    * .sampleFrames]], 64-byte frames, keep every 2nd) reduced to
    * per-doc integer stats; the oracle replays the chunk arithmetic
    * over the text's bytes (ASCII corpus: byte = code point). */
  def q59FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val packed = Multimodal.packBinary(Tables.load(s, dir, "documents"), "text", "source")
    Multimodal.sampleFrames(packed, "payload", "doc_id", frameBytes = 64, stride = 2)
      .groupBy($"id".as("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(length($"frame")).cast("long").as("kept_bytes"))
      .select($"doc_id", $"n_frames", $"kept_bytes")
      .orderBy($"doc_id")
  }

  val q59Sql: String =
    """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
      |c AS (SELECT doc_id, len, (len + 63) // 64 AS n_chunks FROM d WHERE len > 0)
      |SELECT doc_id,
      |  CAST((n_chunks + 1) // 2 AS BIGINT) AS n_frames,
      |  CAST(COALESCE(list_sum(list_transform(
      |    list_filter(generate_series(0, n_chunks - 1), i -> i % 2 = 0),
      |    i -> least(64, len - i * 64))), 0) AS BIGINT) AS kept_bytes
      |FROM c ORDER BY doc_id""".stripMargin

  /** q60: REAL image resize — decode the PNG payload, nearest-neighbor
    * downsample by 2 ([[graft.ext.ImageCodec.resizeNearest]]), RE-encode
    * as 24-bit BMP, decode AGAIN, and reduce to integer stats. The full
    * decode→transform→encode→decode loop runs through `javax.imageio`;
    * both formats are lossless, so the oracle replays the sampled-pixel
    * formula (source pixel (2x, 2y)). */
  def q60Resize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pre-sorted like q29/q36 so the codec chain runs exactly once
    val packed = graft.ext.ImageCodec.synthImagePayload(
      Tables.load(s, dir, "documents").select($"doc_id")
        .repartitionByRange($"doc_id").sortWithinPartitions($"doc_id"),
      "doc_id", format = "png")
    val resized = graft.ext.ImageCodec
      .resizeImagePayload(packed, "payload", factor = 2, outFormat = "bmp")
      .select($"doc_id", $"resized")
    graft.ext.ImageCodec.extractImageFeatures(resized, "resized")
      .select($"doc_id", $"width".as("r_width"), $"height".as("r_height"),
        $"first_px", $"checksum")
  }

  val q60Sql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
      |r AS (SELECT doc_id, (w + 1) // 2 AS rw, (h + 1) // 2 AS rh FROM d),
      |s AS (SELECT doc_id, rw, rh,
      |  list_sum(list_transform(generate_series(0, rw*rh - 1), p ->
      |      (doc_id*7 + ((p % rw)*2)*3 + ((p // rw)*2)*5) % 256
      |    + (((p % rw)*2)*((p % rw)*2) + (p // rw)*2) % 256
      |    + (doc_id + (p % rw)*2 + ((p // rw)*2)*2) % 256)) AS total
      |  FROM r)
      |SELECT doc_id, CAST(rw AS BIGINT) AS r_width, CAST(rh AS BIGINT) AS r_height,
      |  CAST((doc_id*7) % 256 AS BIGINT) AS first_px,
      |  CAST(total % 256 AS BIGINT) AS checksum
      |FROM s ORDER BY doc_id""".stripMargin

  /** q161: perceptual image dedup — the PERCEPTUAL twin of q92's
    * byte-exact frame dedup: every synthetic image is decoded for real
    * (ImageIO) and reduced to its 64-bit dHash
    * ([[graft.ext.ImageCodec.dHashRows]]: 9×8 nearest-sampled
    * grayscale grid, horizontal gradient signs), then images collapse
    * into hash buckets — first doc_id is the keeper, bucket size is
    * the copy count. Catches re-encodes and uniform brightness shifts
    * a byte digest never matches. Bucket grouping (not pair emission)
    * is the production pHash-dedup shape AND what keeps the output
    * linear — this synthetic image family is heavily self-similar
    * (~42k of 125k pairs at Hamming 0 at sf0.01), so any pairwise
    * form would be quadratic junk. Shuffle carries 64 bits per image,
    * never pixels; decode is row-local at scan speed. */
  def q161ImagePhashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val packed = graft.ext.ImageCodec.synthImagePayload(
      Tables.load(s, dir, "documents").select($"doc_id")
        .repartitionByRange($"doc_id").sortWithinPartitions($"doc_id"),
      "doc_id", format = "png")
    graft.ext.ImageCodec.imageDHash(packed, "payload")
      .groupBy($"dhash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies", $"dhash")
      .orderBy($"keep_id")
  }

  // The oracle packs bit p (p = 8*j + i) of the dHash into one signed
  // BIGINT: low/high 32-bit halves summed separately (each < 2^32, so
  // BIGINT arithmetic never overflows), then the high half is mapped to
  // its signed two's-complement contribution — bit 63 set means the
  // packed long is negative, exactly as the engine's `|=`/`<<` pack.
  val q161Sql: String =
    """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
      |b AS (SELECT doc_id,
      |  list_transform(generate_series(0, 63), p ->
      |    CASE WHEN
      |      (((doc_id*7 + (((p%8)+1)*w//9)*3 + ((p//8)*h//8)*5) % 256
      |        + ((((p%8)+1)*w//9)*(((p%8)+1)*w//9) + ((p//8)*h//8)) % 256
      |        + (doc_id + (((p%8)+1)*w//9) + 2*((p//8)*h//8)) % 256) // 3)
      |      >
      |      (((doc_id*7 + ((p%8)*w//9)*3 + ((p//8)*h//8)*5) % 256
      |        + (((p%8)*w//9)*((p%8)*w//9) + ((p//8)*h//8)) % 256
      |        + (doc_id + ((p%8)*w//9) + 2*((p//8)*h//8)) % 256) // 3)
      |    THEN 1 ELSE 0 END) AS bits
      |  FROM d),
      |g0 AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(generate_series(0, 31), p ->
      |    bits[p+1] * (CAST(1 AS BIGINT) << p))) AS BIGINT) AS lo,
      |  CAST(list_sum(list_transform(generate_series(32, 63), p ->
      |    bits[p+1] * (CAST(1 AS BIGINT) << (p-32)))) AS BIGINT) AS hi
      |  FROM b),
      |g AS (SELECT doc_id,
      |  lo + (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END) * 4294967296 AS dhash
      |  FROM g0)
      |SELECT min(doc_id) AS keep_id, count(*) AS n_copies, dhash
      |FROM g GROUP BY dhash ORDER BY keep_id""".stripMargin

  /** q92: multimodal frame dedup — sampled binary frames deduplicated
    * CORPUS-WIDE by content digest (first (doc, frame_no) occurrence
    * wins), per-doc kept-frame stats. The media twin of q79's passage
    * dedup: at scale this is how near-identical video/image chunks are
    * collapsed before feature extraction; the window partitions on the
    * 16-byte digest, so shuffle width is the digest + ids, never the
    * frame payload. */
  def q92FrameDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val packed = Multimodal.packBinary(docs, "text", "source")
    val frames = Multimodal.sampleFrames(packed, "payload", "doc_id",
        frameBytes = 64, stride = 2)
      .localCheckpoint(false) // feeds both the dedup window and the totals
    val first = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"frame")).orderBy($"id", $"frame_no")
    val kept = frames.withColumn("rn", row_number().over(first)).filter($"rn" === 1)
      .groupBy($"id".as("doc_id"))
      .agg(count(lit(1)).as("n_kept"), sum(length($"frame")).cast("long").as("kept_bytes"))
    val totals = frames.groupBy($"id".as("doc_id")).agg(count(lit(1)).as("n_frames"))
    docs.select($"doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_frames", lit(0L)).as("n_frames"),
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_bytes", lit(0L)).as("kept_bytes"))
      .orderBy($"doc_id")
  }

  val q92Sql: String =
    """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
      |ch AS (SELECT doc_id, unnest(list_transform(
      |    list_filter(generate_series(0, ((len + 63) // 64) - 1), i -> i % 2 = 0),
      |    i -> {'no': i, 'fr': substr(text, i*64 + 1, 64)})) AS s
      |  FROM d WHERE len > 0),
      |fr AS (SELECT doc_id, CAST(s.no AS BIGINT) AS frame_no, s.fr AS fr FROM ch),
      |k AS (SELECT *, ROW_NUMBER() OVER
      |  (PARTITION BY md5(fr) ORDER BY doc_id, frame_no) AS rn FROM fr),
      |kk AS (SELECT doc_id, COUNT(*) AS n_kept,
      |    SUM(octet_length(encode(fr))) AS kept_bytes FROM k WHERE rn = 1 GROUP BY doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_frames FROM fr GROUP BY doc_id)
      |SELECT d0.doc_id,
      |  CAST(COALESCE(tot.n_frames, 0) AS BIGINT) AS n_frames,
      |  CAST(COALESCE(kk.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(kk.kept_bytes, 0) AS BIGINT) AS kept_bytes
      |FROM documents d0
      |LEFT JOIN tot ON d0.doc_id = tot.doc_id
      |LEFT JOIN kk ON d0.doc_id = kk.doc_id
      |ORDER BY d0.doc_id""".stripMargin

  /** q99: overlapping document chunking — fixed-width windows with
    * stride < width (the RAG/embedding ingest shape: overlap keeps
    * sentences that straddle a boundary retrievable from both sides).
    * Fully declarative (`sequence` → `explode` → `substr` → `md5`), so
    * it is codegen'd, shuffle-free before the final order, and runs
    * unchanged on a stream. Content digests ride with each chunk —
    * the q92 recipe — so downstream dedup never shuffles chunk text. */
  def q99ChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.Chunking.overlapping(
        Tables.load(s, dir, "documents").filter(length($"text") > 0), "text")
      .select($"doc_id", $"chunk_no", $"off",
        length($"chunk").cast("long").as("chunk_chars"),
        md5(encode($"chunk", "UTF-8")).as("digest"))
      .orderBy($"doc_id", $"chunk_no")
  }

  /** Chunk CTEs shared verbatim with q100's oracle — interpolates the
    * SAME [[graft.ext.Chunking.Width]]/[[graft.ext.Chunking.Stride]]
    * the engine uses, from `src` (needs doc_id, text). Emits `k`
    * (doc_id, chunk_no, off, chunk). */
  private[queries] def chunkSql(src: String): String = {
    val w = graft.ext.Chunking.Width
    val st = graft.ext.Chunking.Stride
    s"""c AS (SELECT doc_id, unnest(generate_series(0, length(text) - 1, $st)) AS off, text
      |  FROM $src WHERE length(text) > 0),
      |k AS (SELECT doc_id, off // $st AS chunk_no, off, substr(text, off + 1, $w) AS chunk FROM c)""".stripMargin
  }

  val q99Sql: String =
    s"""WITH ${chunkSql("documents")}
      |SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no, CAST(off AS BIGINT) AS off,
      |  CAST(length(chunk) AS BIGINT) AS chunk_chars, md5(chunk) AS digest
      |FROM k ORDER BY doc_id, chunk_no""".stripMargin

  /** q103: multimodal audio with a REAL codec — WAV-encode a
    * deterministic PCM16 signal per document
    * ([[graft.ext.AudioCodec.synth]]), decode it back through
    * `javax.sound.sampled`, and reduce the decoded samples to integer
    * stats (peak / energy / voice-activity frames). PCM-in-WAV is
    * lossless, so the oracle replays the sample formula directly — a
    * hash match proves the decode reproduced every sample. The audio
    * twin of q29. */
  def q103Audio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pre-sorted like q29/q36 so the codec chain runs exactly once
    val packed = graft.ext.AudioCodec.synthAudioPayload(
      Tables.load(s, dir, "documents").select($"doc_id")
        .repartitionByRange($"doc_id").sortWithinPartitions($"doc_id"),
      "doc_id")
    graft.ext.AudioCodec.extractAudioFeatures(packed, "payload")
      .select($"doc_id", $"meta.format".as("format"), $"n_samples",
        $"sample_rate", $"first_sample", $"peak", $"abs_sum", $"energy",
        $"active_frames")
  }

  /** Interpolates the SAME constants the codec uses so engine and
    * oracle cannot drift. n is a multiple of FrameSamples by
    * construction, so no trailing partial frame appears in the gated
    * data (the spec covers that edge). */
  val q103Sql: String = {
    val fr = graft.ext.AudioCodec.FrameSamples
    val thr = graft.ext.AudioCodec.ActivityThreshold
    val rate = graft.ext.AudioCodec.SampleRate
    s"""WITH d AS (SELECT doc_id, 128 + (doc_id % 5) * 32 AS n FROM documents),
      |s AS (SELECT doc_id, n,
      |  list_transform(generate_series(0, n - 1), i ->
      |    (doc_id*31 + i*17) % 4096 - 2048) AS smp
      |  FROM d)
      |SELECT doc_id, 'audio/wav' AS format,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST($rate AS BIGINT) AS sample_rate,
      |  CAST(smp[1] AS BIGINT) AS first_sample,
      |  CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
      |  CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS abs_sum,
      |  CAST(list_sum(list_transform(smp, x -> x*x)) AS BIGINT) AS energy,
      |  CAST(list_sum(list_transform(generate_series(0, n // $fr - 1), f ->
      |    CASE WHEN list_sum(list_transform(
      |        generate_series(f*$fr, f*$fr + $fr - 1), i ->
      |          abs((doc_id*31 + i*17) % 4096 - 2048))) >= $thr
      |      THEN 1 ELSE 0 END)) AS BIGINT) AS active_frames
      |FROM s ORDER BY doc_id""".stripMargin
  }

  /** q197: registry AUDIT — the ops query that closes the versioned-
    * registry loop (publish → pin → serve → audit): it forces every
    * registry family's publish (session-cached no-ops after the first
    * call), then reads back the manifests of ALL TWELVE kinds — the
    * IVF-PQ index (two generations), the epoch-loader
    * schedule+manifest pair, the purchase graph, the NB classifier,
    * the BM25 index, the dup-gram dictionary, the dup-gram count state
    * (two generations), the banded LSH index, the BPE tokenizer, the
    * calibration registry and BOTH pause checkpoints (row-wise
    * enrichment and grouped conversation, each results + cursor
    * certificate) — and reports, per (kind, version,
    * part): row count, corpus fingerprint, and the is-latest flag. The
    * oracle recomputes every expected row from the RAW tables — part
    * cardinalities from corpus counts, tokenize/vocabulary/bucket
    * cardinalities via the SAME shared CTE fragments the content
    * oracles use (`gateCtesSql` + `nbTrainCtesSql`,
    * `bm25ScoreChainSql`, `gramChainSqlFor`, `bpeWordDictSqlFrom`,
    * `calibCtesSqlFor`), and the model constants (CoarseK×Dims and
    * codebook M×K×SubDim rows, BpeMerges merge rows, Bands rows per
    * eligible doc for the LSH index, 3 epochs × corpus for the
    * schedule, both edge directions for the graph); fingerprints are
    * the same XOR id-checksums the publishers wrote. A green hash
    * certifies that what the manifests CLAIM storage holds is exactly
    * what the corpus implies they must hold: the audit an operator
    * trusts before flipping a pin or running `gc`. Cardinality
    * surrogates keep the audit training-free: the LSH expectation is
    * eligible-docs × Bands (never a signature replay), the dictionary
    * expectation stops at the word dict (never the merge unrolling),
    * the calibration expectation counts distinct bigrams / (source ×
    * bucket) rows (never the ECDF walk). Scale shape: manifests are
    * KB-sized; the expected side is a handful of corpus aggregations
    * (counts, distincts, XORs) — no training replay anywhere. */
  def q197RegistryAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    forceAllPublishes(s, dir)
    val reg = graft.ext.ArtifactRegistry
    val root = RegistryRoots.root(s, dir)
    val man = RegistryKinds
      .map(k => reg.manifest(s, root, k).withColumn("kind", lit(k)))
      .reduce(_ unionByName _)
    val latest = man.groupBy($"kind").agg(max($"version").as("latest_v"))
    man.join(broadcast(latest), "kind")
      .select($"kind", $"version", $"part", $"n_rows", $"corpus_fp",
        ($"version" === $"latest_v").cast("int").as("is_latest"))
      .orderBy($"kind", $"version", $"part")
  }

  /** The registry kinds every audit-class query reads — ONE list so
    * q197 (content audit) and q199 (retention plan) can never audit
    * different surfaces. */
  private val RegistryKinds = Seq("ivfpq", "epoch_loader", "purchase_graph",
    "nb_model", "bm25_index", "dupgram_dict", "dupgram_counts",
    "lsh_index", "bpe_tokenizer", "calib_registry", "enrich_ckpt",
    "conv_ckpt", "pagerank_fix")

  private def forceAllPublishes(s: SparkSession, dir: String): Unit = {
    SketchQueries.sharedIvfPqRegistry(s, dir)
    CurationQueries.sharedLoaderArtifacts(s, dir)
    AnalyticsQueries.loadedPurchaseGraph(s, dir)
    TextQueries.sharedPersistedNbModel(s, dir)
    CorpusQueries.sharedPersistedBm25(s, dir)
    HashDedupQueries.sharedPersistedDupDict(s, dir)
    HashDedupQueries.sharedDupgramGenerations(s, dir)
    HashDedupQueries.sharedPersistedLshIndex(s, dir)
    TextQueries.sharedPersistedBpe(s, dir)
    MiningQueries.sharedPersistedCalibRegistry(s, dir)
    Reference.sharedEnrichCheckpoint(s, dir)
    Reference.sharedConvCheckpoint(s, dir)
    AnalyticsQueries.sharedPagerankFixpoint(s, dir)
  }

  /** The deployment's pin posture, set once per (session, dir): the
    * IVF-PQ serve pins generation 1 while generation 2 coexists (the
    * q194 posture), the dup-gram count state pins its UPGRADED
    * generation 2 (stranding generation 1 below the floor — the gc
    * candidate q199 exists to surface), and every single-generation
    * kind pins its latest. */
  private val pinSetupCache = SessionArtifact[Unit]("pin_posture")

  private def sharedPinPosture(s: SparkSession, dir: String): Unit =
    pinSetupCache(s, dir) {
      forceAllPublishes(s, dir)
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      RegistryKinds.foreach { k =>
        val v = k match {
          case "ivfpq" => 1L // yesterday's readers still on gen 1 (q194)
          case _ => reg.latestVersion(s, root, k)
        }
        reg.setPin(s, root, k, v)
      }
    }

  /** q199: registry RETENTION PLAN — the ops query an operator runs
    * before `gc`, now data-driven by the pin log instead of a number
    * typed from memory: per (kind, version): part count, is-latest,
    * is-pinned (the pin log's current flip), and COLLECTIBLE — a
    * version strictly below its kind's pin floor, i.e. exactly what
    * `ArtifactRegistry.gc(keepFrom = pin)` would delete and nothing
    * else. Under the session's pin posture the single collectible row
    * is dupgram_counts v1 (its pin moved to the upgraded generation 2)
    * while ivfpq v2 correctly stays: NEWER than its pin, so not a gc
    * candidate — rollback headroom, not garbage. Scale shape: manifests
    * and pin logs are KB-sized at any corpus size; the whole query
    * touches no data files. The oracle is the closed-form state a cold
    * publish pass plus the pin posture implies — meaningful precisely
    * because [[RegistryRoots]] pins the registry root to the publish
    * caches' generation. */
  def q199RegistryRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedPinPosture(s, dir)
    val reg = graft.ext.ArtifactRegistry
    val root = RegistryRoots.root(s, dir)
    val man = RegistryKinds
      .map(k => reg.manifest(s, root, k).withColumn("kind", lit(k)))
      .reduce(_ unionByName _)
    val pins = RegistryKinds
      // max_by(version, seq) is duplicate-safe (a crash-window
      // duplicate carries identical values), so skip the 13 per-kind
      // dedup exchanges the default pinLog read would plan
      .map(k => reg.pinLog(s, root, k, dedup = false).withColumn("kind", lit(k)))
      .reduce(_ unionByName _)
      .groupBy($"kind")
      .agg(max_by($"version", $"seq").as("pinned_v"))
    val latest = man.groupBy($"kind").agg(max($"version").as("latest_v"))
    man.groupBy($"kind", $"version")
      .agg(countDistinct($"part").as("n_parts"))
      .join(broadcast(latest), "kind")
      .join(broadcast(pins), "kind")
      .select($"kind", $"version", $"n_parts",
        ($"version" === $"latest_v").cast("int").as("is_latest"),
        ($"version" === $"pinned_v").cast("int").as("is_pinned"),
        ($"version" < $"pinned_v").cast("int").as("collectible"))
      .orderBy($"kind", $"version")
  }

  val q199Sql: String =
    """SELECT kind, CAST(version AS BIGINT) AS version,
      |  CAST(n_parts AS BIGINT) AS n_parts,
      |  CAST(is_latest AS INT) AS is_latest,
      |  CAST(is_pinned AS INT) AS is_pinned,
      |  CAST(collectible AS INT) AS collectible
      |FROM (VALUES
      |  ('bm25_index', 1, 4, 1, 1, 0),
      |  ('bpe_tokenizer', 1, 2, 1, 1, 0),
      |  ('calib_registry', 1, 2, 1, 1, 0),
      |  ('dupgram_counts', 1, 1, 0, 0, 1),
      |  ('dupgram_counts', 2, 1, 1, 1, 0),
      |  ('conv_ckpt', 1, 2, 1, 1, 0),
      |  ('dupgram_dict', 1, 1, 1, 1, 0),
      |  ('enrich_ckpt', 1, 2, 1, 1, 0),
      |  ('epoch_loader', 1, 2, 1, 1, 0),
      |  ('ivfpq', 1, 4, 0, 1, 0),
      |  ('ivfpq', 2, 4, 1, 0, 0),
      |  ('lsh_index', 1, 1, 1, 1, 0),
      |  ('nb_model', 1, 2, 1, 1, 0),
      |  ('pagerank_fix', 1, 1, 1, 1, 0),
      |  ('purchase_graph', 1, 3, 1, 1, 0))
      |  AS t(kind, version, n_parts, is_latest, is_pinned, collectible)
      |ORDER BY kind, version""".stripMargin

  val q197Sql: String = {
    val pq = graft.ext.ProductQuantize
    val coarseRows = pq.CoarseK * pq.Dims // derived, never a literal
    val bookRows = pq.NumSub * pq.K * pq.SubDim
    s"""WITH nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
      |    CAST(SUM(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
      |    CAST(bit_xor(vec_id) AS BIGINT) AS fp_all FROM embeddings),
      |fpo AS (SELECT CAST(bit_xor(vec_id) AS BIGINT) AS fp_old
      |  FROM embeddings WHERE vec_id % 10 <> 0),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(bit_xor(doc_id) AS BIGINT) AS fp_docs FROM documents),
      |${CurationQueries.epochChainSql},
      |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups
      |  FROM (SELECT DISTINCT epoch, shard FROM p) t),
      |base AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS s
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |ge AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
      |gn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
      |    CAST(bit_xor(src) AS BIGINT) AS fp_g FROM ge),
      |gv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vert
      |  FROM (SELECT src AS id FROM ge UNION SELECT dst FROM ge) t),
      |tbase AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS s
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  WHERE l.l_quantity >= 45),
      |tge AS (SELECT c AS src, s AS dst FROM tbase UNION ALL SELECT s, c FROM tbase),
      |tgn AS (SELECT CAST(bit_xor(src) AS BIGINT) AS fp_tg FROM tge),
      |tgv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tvert
      |  FROM (SELECT src AS id FROM tge UNION SELECT dst FROM tge) t),
      |${TextQueries.gateCtesSql},
      |${TextQueries.nbTrainCtesSql},
      |fnb AS (SELECT CAST(bit_xor(doc_id) AS BIGINT) AS fp FROM documents
      |  WHERE doc_id % 10 <> 0),
      |wcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM w),
      |${CorpusQueries.bm25ScoreChainSql},
      |fbm AS (SELECT CAST(bit_xor(doc_id) AS BIGINT) AS fp FROM documents
      |  WHERE length(trim(text)) > 0),
      |bmc AS (SELECT CAST((SELECT COUNT(*) FROM tf) AS BIGINT) AS n_tf,
      |    CAST((SELECT COUNT(*) FROM dl) AS BIGINT) AS n_dl,
      |    CAST((SELECT COUNT(*) FROM dfreq) AS BIGINT) AS n_df),
      |${HashDedupQueries.gramChainSqlFor("d")},
      |${MiningQueries.calibCtesSqlFor("cal_")},
      |${TextQueries.bpeWordDictSqlFrom(
          "(SELECT * FROM documents WHERE doc_id < 250)", "bp_")},
      |no AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS pos FROM orders),
      |cvn AS (SELECT CAST(SUM(LEAST(2, c)) AS BIGINT) AS n
      |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey) t),
      |lshn AS (SELECT CAST(${graft.ext.MinHashLsh.Bands} * COUNT(*) AS BIGINT) AS n
      |  FROM documents WHERE doc_id < 250 AND length(text) >= 8),
      |bpdict AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bp_wd),
      |callm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cal_cnt),
      |caltab AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cal_sp),
      |f250 AS (SELECT CAST(bit_xor(doc_id) AS BIGINT) AS fp FROM documents
      |  WHERE doc_id < 250),
      |f375 AS (SELECT CAST(bit_xor(doc_id) AS BIGINT) AS fp FROM documents
      |  WHERE doc_id < 375),
      |dgdict AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT gram FROM dg WHERE id < 250 GROUP BY gram HAVING COUNT(*) >= 2) t),
      |dgc1 AS (SELECT CAST(COUNT(DISTINCT gram) AS BIGINT) AS n FROM dg WHERE id < 250),
      |dgc2 AS (SELECT CAST(COUNT(DISTINCT gram) AS BIGINT) AS n FROM dg WHERE id < 375),
      |exp0 AS (
      |  SELECT 'ivfpq' AS kind, 1 AS version, 'asg' AS part,
      |    nv.n_old AS n_rows, fpo.fp_old AS corpus_fp, 0 AS is_latest
      |    FROM nv CROSS JOIN fpo
      |  UNION ALL SELECT 'ivfpq', 1, 'books', $bookRows, fp_old, 0 FROM fpo
      |  UNION ALL SELECT 'ivfpq', 1, 'coarse', $coarseRows, fp_old, 0 FROM fpo
      |  UNION ALL SELECT 'ivfpq', 1, 'enc', ${pq.NumSub} * nv.n_old, fp_old, 0
      |    FROM nv CROSS JOIN fpo
      |  UNION ALL SELECT 'ivfpq', 2, 'asg', n_all, fp_all, 1 FROM nv
      |  UNION ALL SELECT 'ivfpq', 2, 'books', $bookRows, fp_all, 1 FROM nv
      |  UNION ALL SELECT 'ivfpq', 2, 'coarse', $coarseRows, fp_all, 1 FROM nv
      |  UNION ALL SELECT 'ivfpq', 2, 'enc', ${pq.NumSub} * n_all, fp_all, 1 FROM nv
      |  UNION ALL SELECT 'epoch_loader', 1, 'manifest', ns.n_groups, nd.fp_docs, 1
      |    FROM ns CROSS JOIN nd
      |  UNION ALL SELECT 'epoch_loader', 1, 'schedule', 3 * n_docs, fp_docs, 1 FROM nd
      |  UNION ALL SELECT 'purchase_graph', 1, 'deg', n_edges, fp_g, 1 FROM gn
      |  UNION ALL SELECT 'purchase_graph', 1, 'edges', n_edges, fp_g, 1 FROM gn
      |  UNION ALL SELECT 'purchase_graph', 1, 'vertices', gv.n_vert, gn.fp_g, 1
      |    FROM gv CROSS JOIN gn
      |  UNION ALL SELECT 'pagerank_fix', 1, 'ranks', tgv.n_tvert, tgn.fp_tg, 1
      |    FROM tgv CROSS JOIN tgn
      |  UNION ALL SELECT 'nb_model', 1, 'globals', 1, fp, 1 FROM fnb
      |  UNION ALL SELECT 'nb_model', 1, 'weights', wcnt.n, fnb.fp, 1
      |    FROM wcnt CROSS JOIN fnb
      |  UNION ALL SELECT 'bm25_index', 1, 'dfreq', bmc.n_df, fbm.fp, 1
      |    FROM bmc CROSS JOIN fbm
      |  UNION ALL SELECT 'bm25_index', 1, 'dl', bmc.n_dl, fbm.fp, 1
      |    FROM bmc CROSS JOIN fbm
      |  UNION ALL SELECT 'bm25_index', 1, 'globals', 1, fp, 1 FROM fbm
      |  UNION ALL SELECT 'bm25_index', 1, 'tf', bmc.n_tf, fbm.fp, 1
      |    FROM bmc CROSS JOIN fbm
      |  UNION ALL SELECT 'dupgram_dict', 1, 'dict', dgdict.n, f250.fp, 1
      |    FROM dgdict CROSS JOIN f250
      |  UNION ALL SELECT 'dupgram_counts', 1, 'counts', dgc1.n, f250.fp, 0
      |    FROM dgc1 CROSS JOIN f250
      |  UNION ALL SELECT 'dupgram_counts', 2, 'counts', dgc2.n, f375.fp, 1
      |    FROM dgc2 CROSS JOIN f375
      |  UNION ALL SELECT 'lsh_index', 1, 'bands', lshn.n, f250.fp, 1
      |    FROM lshn CROSS JOIN f250
      |  UNION ALL SELECT 'bpe_tokenizer', 1, 'merges', ${TextQueries.BpeMerges},
      |    fp, 1 FROM f250
      |  UNION ALL SELECT 'bpe_tokenizer', 1, 'dict', bpdict.n, f250.fp, 1
      |    FROM bpdict CROSS JOIN f250
      |  UNION ALL SELECT 'calib_registry', 1, 'lm', callm.n, nd.fp_docs, 1
      |    FROM callm CROSS JOIN nd
      |  UNION ALL SELECT 'calib_registry', 1, 'calib', caltab.n, nd.fp_docs, 1
      |    FROM caltab CROSS JOIN nd
      |  UNION ALL SELECT 'enrich_ckpt', 1, 'cursor', 1, pos, 1 FROM no
      |  UNION ALL SELECT 'enrich_ckpt', 1, 'results', no.pos, no.pos, 1 FROM no
      |  UNION ALL SELECT 'conv_ckpt', 1, 'cursor', 1, 2, 1
      |  UNION ALL SELECT 'conv_ckpt', 1, 'results', cvn.n, 2, 1 FROM cvn)
      |SELECT kind, CAST(version AS BIGINT) AS version, part,
      |  CAST(n_rows AS BIGINT) AS n_rows, corpus_fp,
      |  CAST(is_latest AS INT) AS is_latest
      |FROM exp0 ORDER BY kind, version, part""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_registry_audit" -> (q197RegistryAudit _),
    "q199_registry_retention" -> (q199RegistryRetention _),
    "q92_frame_dedup" -> (q92FrameDedup _),
    "q161_image_phash_dedup" -> (q161ImagePhashDedup _),
    "q103_audio" -> (q103Audio _),
    "q99_chunk_overlap" -> (q99ChunkOverlap _),
    "q28_salted_agg" -> (q28SaltedAgg _),
    "q29_multimodal" -> (q29Multimodal _),
    "q41_salted_join" -> (q41SaltedJoin _),
    "q42_pivot_counts" -> (q42Pivot _),
    "q59_frame_sample" -> (q59FrameSample _),
    "q60_resize" -> (q60Resize _))

  val oracle: Map[String, String] = Map(
    "q197_registry_audit" -> q197Sql,
    "q199_registry_retention" -> q199Sql,
    "q92_frame_dedup" -> q92Sql,
    "q161_image_phash_dedup" -> q161Sql,
    "q103_audio" -> q103Sql,
    "q99_chunk_overlap" -> q99Sql,
    "q28_salted_agg" -> q28Sql,
    "q29_multimodal" -> q29Sql,
    "q41_salted_join" -> q41Sql,
    "q42_pivot_counts" -> q42Sql,
    "q59_frame_sample" -> q59Sql,
    "q60_resize" -> q60Sql)
}
