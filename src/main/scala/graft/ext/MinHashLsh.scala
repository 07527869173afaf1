package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection (north star).
  *
  * signature_j(doc) = min over 8-char shingles s of (a_j·H(s) + b_j) mod P,
  * H = rolling polynomial hash ([[graft.functions.PolyHash]], codegen'd).
  * Candidates = pairs agreeing on at least one of BANDS contiguous
  * signature slices; verification = fraction of matching signature
  * positions (estimates Jaccard).
  *
  * Scale design: signatures are K longs per doc regardless of text
  * size — the banding shuffle moves (band, 4 longs, id), never text.
  * Bucket join cost is Σ bucket², controlled by band width; verification
  * joins signatures (128 bytes), not documents. At 100 TB this is the
  * dedup path that works; the exact-Jaccard verify of [[Dedup]] is the
  * fallback for small candidate sets. All coefficients are fixed
  * constants so results are deterministic and engine-portable.
  */
object MinHashLsh {
  val P = 1000000007L
  val K = 16
  val Bands = 4
  val RowsPerBand = 4

  val A: Seq[Long] = Seq(472882049L, 741103597L, 282475249L, 622729787L,
    516017719L, 920419823L, 694847539L, 378551027L, 115249603L, 858599509L,
    656671099L, 297379793L, 179424673L, 533000401L, 926960213L, 715225739L)
  val B: Seq[Long] = Seq(86028157L, 265443577L, 472287103L, 657305099L,
    104395303L, 512927377L, 735632791L, 198491329L, 982451653L, 67867967L,
    372661567L, 846732503L, 149305919L, 628836203L, 54018521L, 314606891L)

  /** K-element MinHash signature of a text column — one native pass
    * ([[graft.functions.MinHashSig]]): shingling, rolling hash, and all
    * K mins in a single JVM loop, no intermediate arrays. (The
    * composed-HOF version was 60x slower: `transform`/`array_min` are
    * interpreted.) Semantics identical to min over the distinct shingle
    * set, with this object's coefficients (A, B, P) over n-char
    * shingles. */
  def signature(text: Column, n: Int = 8): Column =
    graft.functions.VectorFunctions.minhashSig(text, n, A, B, P)

  def signatures(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    df.filter(length(col(textCol)) >= n)
      .select(col(idCol).as("id"), signature(col(textCol), n).as("sig"))
  }

  /** Banded signature index: (id, sig, band, bslice) — [[Bands]] rows
    * per doc, each carrying the full signature so downstream joins
    * never rejoin to fetch it. This is the PERSISTED shape of an LSH
    * corpus snapshot: ~(K+RowsPerBand)·8 bytes per doc per band, text
    * never included. */
  def bandedIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame =
    banded(signatures(df, idCol, textCol, n))

  /** Explode (id, carry…, sig) rows into one row per band — THE band
    * layout (band index + [[bandSlice]] slice), defined once so the
    * batch path and the carry-columns stream/index path can never
    * desynchronize their bucket shapes. */
  private def banded(sigs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keep = col("id") +: carry.map(col) :+ col("sig")
    sigs.select(keep :+
        explode(array((0 until Bands).map(b =>
          struct(lit(b).as("band"), bandSlice(col("sig"), b).as("bslice"))): _*))
          .as("bs"): _*)
      .select(keep :+ col("bs.band").as("band") :+ col("bs.bslice").as("bslice"): _*)
  }

  private def bandSlice(sig: Column, b: Int): Column =
    slice(sig, b * RowsPerBand + 1, RowsPerBand)

  /** [[bandedIndex]] with passenger columns carried through — a
    * stream-side probe needs its event_time (for the window) and
    * source tag on the banded row, and the static corpus index can
    * carry its source tag so the matrix join needs no second id-keyed
    * lookup. Stream-safe: row-local signature + explode, no state. */
  def bandedIndexWith(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String], n: Int = 8): DataFrame = {
    banded(df.filter(length(col(textCol)) >= n)
      .select(col(idCol).as("id") +: carry.map(col) :+
        signature(col(textCol), n).as("sig"): _*), carry)
  }

  /** Count of agreeing signature positions (16·est_sim, exact integer)
    * — shared with the streaming overlap monitor so the estimate can
    * never fork from [[nearDupPairs]]'s. */
  private[graft] def sigMatches(a: Column, b: Column): Column =
    (0 until K).map(i =>
      when(element_at(a, i + 1) === element_at(b, i + 1), 1).otherwise(0))
      .reduce(_ + _)

  /** First-agreeing-band predicate over aliased sides `a`/`b` — exposed
    * for the streaming probe (same multi-band dedup, no shuffle). */
  private[graft] def firstMatchBandPred: Column = firstMatchPred

  /** Emit a colliding pair only at the FIRST agreeing band: all earlier
    * bands must disagree — a pure predicate over the two signatures
    * already in the join, so the candidate stream never pays a dedup
    * shuffle. */
  private def firstMatchPred: Column =
    (0 until Bands).map(bp =>
      when(col("a.band") > lit(bp), bandSlice(col("a.sig"), bp) =!= bandSlice(col("b.sig"), bp))
        .otherwise(lit(true))).reduce(_ && _)

  private def estSim(pairs: DataFrame, leftId: String, rightId: String): DataFrame =
    pairs.select(col(leftId), col(rightId),
      (sigMatches(col("sig_a"), col("sig_b")).cast("double") / K).as("est_sim"))

  /** The default band-bucket cap of [[nearDupPairs]] — far above any
    * bucket a deduplicated corpus produces (the gate corpora peak at 3
    * at sf0.01 / 4 at sf0.1, so the cap is a no-op there), low enough
    * that a clone cluster of ten thousand boilerplate pages is excluded
    * instead of expanding to ~10⁸ pairs. */
  val DefaultMaxBucket = 64

  /** Near-dup pairs with estimated similarity ≥ `minEstSim`, with a
    * BAND-BUCKET size cap ON BY DEFAULT — the scale lever the banded
    * join itself needs on clone-heavy corpora: a bucket of B
    * near-identical documents (boilerplate pages, mirrored dumps, the
    * 100× verbatim scale-stress) emits B(B−1)/2 pairs, quadratic in
    * the clone count, and no shingle-df cap can see it because the
    * blow-up happens in the BAND buckets. Buckets larger than
    * `maxBucket` are excluded from pair emission entirely — the same
    * contract as [[Dedup.ngramJaccardPairs]]'s `maxShingleDf` (an
    * oversized bucket is a guaranteed duplicate CLUSTER; at scale you
    * either exact-dedup upstream, as q72 does, or link such clusters
    * through a representative instead of all-pairs).
    *
    * Emission is distinct-pair (one aggregation), NOT
    * [[firstMatchPred]]: under a cap, a pair's first AGREEING band may
    * be a dropped oversized bucket, and the first-match predicate
    * would then wrongly suppress the pair at its surviving band.
    * Scale shape: the bucket size is a COUNT WINDOW over the same
    * (band, bslice) keys the self-join shuffles on — one exchange,
    * which the join's other side then REUSES (a separate
    * aggregate + semi-join plan costs two more exchanges and a
    * broadcast-misestimate risk; ShuffleBudgetSpec pins q34's total);
    * oversized buckets are dropped before any pair expands;
    * signatures ride through the band join (128 bytes a row), so
    * verification needs no candidate↔signature rejoin. */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minEstSim: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      guardBucket: Int = SimHashDedup.UncappedGuardBucket): DataFrame = {
    val bands = banded(signatures(df, idCol, textCol, n))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bslice"))
    val sized = bands.withColumn("bsz", count(lit(1)).over(w))
    // an UNCAPPED call (maxBucket = Int.MaxValue) still guards: a band
    // bucket past `guardBucket` means clone mass is about to expand
    // quadratically, and with the cap explicitly disabled the sound
    // move is a loud stage failure naming the fix, not a hung join —
    // the [[SimHashDedup.UncappedGuardBucket]] pattern. The count
    // window rides the same (band, bslice) exchange the self-join
    // shuffles on, so the guard adds no exchange.
    val kept =
      if (maxBucket != Int.MaxValue || guardBucket == Int.MaxValue)
        sized.filter(col("bsz") <= maxBucket).drop("bsz")
      else sized.filter(assert_true(col("bsz") <= guardBucket,
          concat(lit("uncapped MinHash LSH band bucket of size "), col("bsz"),
            lit(s" exceeds the guard ($guardBucket): pair emission is" +
              " clone-quadratic at this density — keep the default cap" +
              " (DefaultMaxBucket), exact-dedup upstream" +
              " (Dedup.exactDedupWithCounts, the q203 posture), or pass" +
              " guardBucket = Int.MaxValue to accept unbounded expansion")))
          .isNull)
        .drop("bsz")
    val cand = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bslice") === col("b.bslice") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("sig_a")).as("sig_a"), first(col("sig_b")).as("sig_b"))
    estSim(cand, "id_a", "id_b").filter(col("est_sim") >= minEstSim)
  }

  /** [[nearDupPairs]] with the cap spelled at the call site — kept as
    * the explicit-cap entry point (q200 gates the exclusion arithmetic
    * with a cap that BITES at the gate's sf). */
  def nearDupPairsCapped(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minEstSim: Double = 0.5,
      maxBucket: Int = 16): DataFrame =
    nearDupPairs(df, idCol, textCol, n, minEstSim, maxBucket)

  /** Near-dups of `fresh` docs against an already-built corpus snapshot
    * `index` ([[bandedIndex]] shape) — the incremental crawl-ingest
    * twin of [[nearDupPairs]], and the LSH analogue of
    * [[Dedup.dedupAgainstCorpus]]'s exact digests: only the NEW batch
    * is signed; the snapshot travels as its banded signature index,
    * never text. Returns (corpus_id, fresh_id, est_sim) with est_sim ≥
    * `minEstSim`. The equi-join keys on (band, bslice), so each fresh
    * doc probes only its own buckets; [[firstMatchPred]] dedups
    * multi-band collisions without a shuffle. A fresh doc whose id
    * also exists in the snapshot (a re-crawl of a known page) is NOT
    * its own near-dup: the join drops same-id pairs, so callers need
    * no disjointness precondition. */
  def nearDupAgainstIndex(
      fresh: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      n: Int = 8,
      minEstSim: Double = 0.5): DataFrame = {
    val fb = banded(signatures(fresh, idCol, textCol, n))
    val cand = index.as("a").join(fb.as("b"),
        col("a.band") === col("b.band") && col("a.bslice") === col("b.bslice") &&
          col("a.id") =!= col("b.id") && firstMatchPred)
      .select(col("a.id").as("corpus_id"), col("b.id").as("fresh_id"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
    estSim(cand, "corpus_id", "fresh_id").filter(col("est_sim") >= minEstSim)
  }
}
