package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.simhash32

/** SimHash near-duplicate detection (north star): 32-bit token-level
  * SimHash ([[graft.functions.SimHash32]], one codegen'd pass per doc)
  * + banded candidate generation.
  *
  * With 4 disjoint 8-bit bands, any pair at Hamming distance ≤ 3 agrees
  * on at least one band (pigeonhole), so banded candidates + exact
  * Hamming filter produce EXACTLY the brute-force result — no recall
  * loss — while the join moves only (band, byte, id) tuples. That
  * equivalence is what the DuckDB oracle exploits: it brute-forces, we
  * band, results must be identical.
  */
object SimHashDedup {
  val Bands = 4
  val BitsPerBand = 8

  /** WIDE band geometry: 4 disjoint 16-bit bands over the 64-bit
    * signature ([[graft.functions.HashUtil.simHash64]]) — the SAME
    * ≤3-Hamming pigeonhole guarantee, but expected band-bucket mass
    * n/65536 instead of n/256. This is the distinct-corpus scale
    * path the factor-100 `--distinct-text` stress motivated: past
    * ~10⁵ genuinely distinct contents the 8-bit geometry's banded
    * candidates (Θ(n²/256)) turn super-linear (q203 read marginal
    * exponent ≈ 1.3 over the 10×→100× decade), while the 16-bit
    * geometry defers the quadratic by another 256×. Hamming here is
    * measured on the 64-bit signature (the sum of the two halves'
    * distances), so the wide operating point is a DIFFERENT, tighter
    * near-dup criterion than the 32-bit one — its oracle brute-forces
    * the same 64-bit metric. */
  val WideBands = 4
  val WideBitsPerBand = 16

  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol).as("id"), simhash32(col(textCol)).as("sh"))
  }

  def simhashes64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.simhash64(col(textCol)).as("sh"))

  /** Explode signatures into the band layout (id, sh, band, bval) —
    * one definition shared by the self-join and the cross-split probe
    * so bucket shapes can never desynchronize. This is also the
    * persisted/index shape of a SimHash corpus snapshot
    * ([[MinHashLsh.bandedIndex]]'s twin): 4 rows of (8+8+1+1) bytes
    * per doc, text never included. */
  def bandedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    bandsOf(simhashes(df, idCol, textCol))

  private def bandsOfG(sims: DataFrame, nBands: Int, bits: Int): DataFrame =
    sims.select(col("id"), col("sh"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sh"), b * bits)
              .bitwiseAND(lit((1L << bits) - 1L)).as("bval"))): _*))
          .as("bs"))
      .select(col("id"), col("sh"), col("bs.band").as("band"), col("bs.bval").as("bval"))

  private def bandsOf(sims: DataFrame): DataFrame =
    bandsOfG(sims, Bands, BitsPerBand)

  private def bandValG(sh: org.apache.spark.sql.Column, b: Int, bits: Int) =
    shiftrightunsigned(sh, b * bits).bitwiseAND(lit((1L << bits) - 1L))

  /** Emit a cross pair only at its FIRST agreeing band — a pure
    * predicate over the two signatures already in the join (no dedup
    * shuffle on the pair stream), exact by the pigeonhole bound. */
  private def firstMatchPredG(nBands: Int, bits: Int): org.apache.spark.sql.Column =
    (0 until nBands).map(bp =>
      when(col("a.band") > lit(bp),
        bandValG(col("a.sh"), bp, bits) =!= bandValG(col("b.sh"), bp, bits))
        .otherwise(lit(true))).reduce(_ && _)

  private def firstMatchPred: org.apache.spark.sql.Column =
    firstMatchPredG(Bands, BitsPerBand)

  /** Exact Hamming-≤`maxHamming` matches of `fresh` docs against an
    * already-built corpus snapshot `index` ([[bandedIndex]] shape) —
    * the incremental crawl-ingest twin of [[nearDupPairs]] and the
    * SimHash analogue of [[MinHashLsh.nearDupAgainstIndex]]: only the
    * NEW batch is signed; the snapshot travels as its 18-byte-a-row
    * band index, never text. Returns (corpus_id, fresh_id, hamming),
    * each qualifying cross pair exactly once (first-match-band).
    * No bucket cap or guard here: the cross-split bucket cost is
    * |corpus bucket| × |fresh bucket|, and the q205 composition
    * controls both by exact-dedup upstream on each side — clone mass
    * never reaches the band join. Signing and banding are row-local
    * and first-match-band is a pure predicate, so the same call over a
    * document STREAM is a stateless stream-static probe with the
    * batch semantics (StreamingSpec pins the parity). */
  def nearDupAgainstIndex(
      fresh: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < Bands,
      s"maxHamming=$maxHamming needs > $maxHamming+1 bands for exact recall")
    val fb = bandsOf(simhashes(fresh, idCol, textCol))
    index.as("a").join(fb.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.id") =!= col("b.id") &&
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming &&
          firstMatchPred)
      .select(col("a.id").as("corpus_id"), col("b.id").as("fresh_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
  }

  /** A band bucket this large in an UNCAPPED call throws instead of
    * expanding: 8192² / 2 ≈ 33M pairs from ONE bucket is past any
    * legitimate exact workload (the sf0.1 gate corpus peaks at ~2.1k,
    * 4× headroom; the 10× clone stress hits ~21k and would throw —
    * it previously ran 80 s, and 100× ran half an hour), and buckets
    * grow as n/256, so past this point the quadratic is certain: it
    * should announce itself as an error naming the fix, not as a
    * hung stage. Overridable per call (specs shrink it; a caller
    * that truly wants unbounded exact all-pairs passes
    * Int.MaxValue). */
  val UncappedGuardBucket = 8192

  /** What the uncapped guard's error tells a NOT-yet-deduped caller.
    * An already-deduped caller (q203) passes its own advice: there the
    * oversized bucket is DISTINCT near-identical mass, and the fix is
    * a conscious guard raise or the capped estimate, not a dedup it
    * already did. */
  val DefaultGuardAdvice: String =
    "the exact all-pairs output is clone-quadratic at this density —" +
      " exact-dedup upstream (Dedup.exactDedupWithCounts, the q203" +
      " composition) or opt into maxBucket"

  /** Pairs at Hamming distance ≤ `maxHamming` (must be < Bands for the
    * pigeonhole guarantee).
    *
    * DECISION TABLE — which form to call at which contract:
    * {{{
    * contract                         | call                      | gate
    * ---------------------------------+---------------------------+------
    * exact, corpus already deduped    | uncapped (default)        | q21
    * exact, clone-heavy corpus        | Dedup.exactDedupWithCounts|
    *   (the 100 TB posture)           |   upstream, then uncapped | q203
    * scale/estimate, clones tolerated | maxBucket = 32            | q202
    * }}}
    * `maxBucket` is OFF by default — deliberately the opposite of
    * [[MinHashLsh.nearDupPairs]], because the contracts differ:
    * MinHash emission is an ESTIMATE (a capped bucket drops redundant
    * evidence), while this operator's contract is EXACT equality with
    * brute force (the q21 oracle brute-forces all pairs), and with
    * 8-bit bands a bucket holds n/256 docs in expectation — at any
    * real corpus size every bucket exceeds any cap, so a capped
    * default would silently stop being exact at precisely the scale
    * that matters. The 10× scale-stress measures the consequence
    * honestly: exponent 1.77, because the TRUE Hamming-≤3 pair set
    * itself grows quadratically on clone-heavy corpora (clone pairs
    * are real pairs, not estimation artifacts). Exact all-pairs
    * SimHash is therefore NOT a 100 TB primitive; the 100 TB paths
    * are (a) exact-dedup clones upstream, then band the survivors —
    * GATED as q203, measured flat (exponent 0.02) at 100× clone
    * density — or (b) opt into the cap, gated as q202. An uncapped
    * call that meets a bucket above `guardBucket` THROWS (a
    * [[org.apache.spark.sql.functions.assert_true]] filter riding the
    * join's own exchange) so the quadratic surfaces as an error
    * naming q203's composition instead of a hung stage.
    *
    * Uncapped, emission is first-match-band (a pure predicate: all
    * earlier bands must disagree — one emission per pair, no dedup
    * shuffle on the pair stream). Under a cap that argument is
    * unsound (the first agreeing band may be a dropped oversized
    * bucket), so the capped plan switches to distinct-pair emission,
    * with the bucket size a COUNT WINDOW over the same (band, bval)
    * keys the self-join shuffles on — one exchange, reused by the
    * join's other side. The Hamming filter stays INSIDE the join
    * either way, so failing candidates never expand. */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue,
      guardBucket: Int = UncappedGuardBucket,
      guardAdvice: String = DefaultGuardAdvice): DataFrame = {
    require(maxHamming < Bands,
      s"maxHamming=$maxHamming needs > $maxHamming+1 bands for exact recall; use more/narrower bands")
    val bands = bandsOf(simhashes(df, idCol, textCol))
    val hamming =
      bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long")
    if (maxBucket == Int.MaxValue)
      uncappedBandedPairs(bands, Bands, BitsPerBand, maxHamming,
        guardBucket, guardAdvice, guardLabel = "SimHash")
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bval"))
      val kept = bands
        .withColumn("bsz", count(lit(1)).over(w))
        .filter(col("bsz") <= maxBucket).drop("bsz")
      kept.as("a").join(kept.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
            col("a.id") < col("b.id") &&
            bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming)
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(first(hamming).as("hamming"))
    }
  }

  /** [[nearDupPairs]] at the WIDE geometry ([[WideBands]] ×
    * [[WideBitsPerBand]] over the 64-bit signature) — exact
    * Hamming-≤`maxHamming` pairs on [[graft.functions.HashUtil
    * .simHash64]], uncapped with the same loud guard. The operating
    * point for corpora whose DISTINCT content count makes 8-bit band
    * buckets (n/256) quadratic — see the geometry note on
    * [[WideBands]]; callers compose it dedup-first exactly like q203
    * (gated as q207). */
  def nearDupPairsWide(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      guardBucket: Int = UncappedGuardBucket,
      guardAdvice: String = DefaultGuardAdvice): DataFrame = {
    require(maxHamming < WideBands,
      s"maxHamming=$maxHamming needs > $maxHamming+1 bands for exact recall")
    uncappedBandedPairs(
      bandsOfG(simhashes64(df, idCol, textCol), WideBands, WideBitsPerBand),
      WideBands, WideBitsPerBand, maxHamming, guardBucket, guardAdvice,
      guardLabel = "wide SimHash")
  }

  /** The ONE uncapped banded self-join, shared by both geometries
    * (8-bit/32-bit [[nearDupPairs]] and 16-bit/64-bit
    * [[nearDupPairsWide]]) so a fix to the guard or the
    * first-match-band emission can never apply to one and silently
    * miss the other. The guard: bucket size as a COUNT WINDOW over
    * the same (band, bval) keys the self-join shuffles on (exchange
    * reused); assert_true returns null for every surviving row, so
    * results are untouched until the moment a bucket crosses the
    * guard — then the stage fails with the fix in the message instead
    * of hanging. */
  private def uncappedBandedPairs(bands: DataFrame, nBands: Int, bits: Int,
      maxHamming: Int, guardBucket: Int, guardAdvice: String,
      guardLabel: String): DataFrame = {
    val hamming =
      bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bval"))
    val guarded =
      if (guardBucket == Int.MaxValue) bands
      else bands.withColumn("bsz", count(lit(1)).over(w))
        .filter(assert_true(col("bsz") <= guardBucket,
          concat(lit(s"uncapped $guardLabel band bucket of size "), col("bsz"),
            lit(s" exceeds the guard ($guardBucket): " + guardAdvice))).isNull)
        .drop("bsz")
    guarded.as("a").join(guarded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id") &&
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= maxHamming &&
          firstMatchPredG(nBands, bits))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming.as("hamming"))
  }
}
