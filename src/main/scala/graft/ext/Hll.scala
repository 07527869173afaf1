package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch with a fully deterministic,
  * engine-replayable register layout. The production shape for
  * "distinct users per segment over 100 TB": registers are a
  * fixed-size (m=256) mergeable state, the build is one
  * `groupBy(bucket).max(rho)` — shuffle bytes constant in data size —
  * and merging two sketches is an elementwise max.
  *
  * Determinism discipline (unlike vendor approx_count_distinct, which
  * never hash-matches across engines): the hash is the engine's own
  * rolling polyhash + LCG avalanche (both replayable in ANSI-ish SQL),
  * rho comes from `bin()` string length (identical semantics in Spark
  * and DuckDB), and the harmonic denominator Σ 2^(−rho) is carried as
  * the exact INTEGER Σ 2^(32−rho) (rho ≤ 24, so each term and the
  * 256-term sum fit a long with room to spare). The only doubles are
  * one final mirrored expression.
  *
  * No small-range (linear-counting) correction is applied: it needs
  * ln(), whose last ulp is libm-specific — apply it downstream if
  * n_zero > 0. Raw-estimate relative error is the standard 1.04/√m ≈
  * 6.5% at m=256.
  */
object Hll {

  val M = 256

  /** Murmur-style xorshift-multiply finalizer confined to 31 bits (so
    * every intermediate product stays under 2^63 — no overflow under
    * ANSI mode, and bit-identical in any engine with xor/shift/mod).
    * An LCG finalizer is NOT enough here: it is affine, so sequential
    * keys step the low byte by a constant and the bucket field never
    * mixes — HLL's register statistics need every bit avalanched. */
  private def fmix31(h0: Column): Column = {
    val h1 = h0.bitwiseXOR(shiftright(h0, 16))
    val h2 = (h1 * 2246822507L) % 2147483648L
    val h3 = h2.bitwiseXOR(shiftright(h2, 13))
    val h4 = (h3 * 3266489909L) % 2147483648L
    h4.bitwiseXOR(shiftright(h4, 16))
  }

  /** 31-bit avalanched hash of a (string-castable) key: rolling corpus
    * polyhash, then [[fmix31]]. */
  def hash31(key: Column): Column =
    fmix31(graft.functions.GraftFunctions.polyhash(key.cast("string")))

  /** rho of the 23-bit sub-hash: leading zeros + 1 (w = 0 → 24). */
  private def rho(w: Column): Column =
    when(w === 0L, lit(24L)).otherwise(lit(24L) - length(bin(w)).cast("long"))

  /** Dense m=256 register vector of a key column: (bucket 0..255,
    * r = max rho of keys hashed there; 0 for untouched buckets). */
  def registers(df: DataFrame, key: Column): DataFrame = {
    val spark = df.sparkSession
    val hit = df
      .select(hash31(key).as("h"))
      .select((col("h") % M).as("bucket"), rho(expr("h DIV 256")).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("max_rho"))
    spark.range(M).select(col("id").as("bucket"))
      .join(hit, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("max_rho"), lit(0L)).as("r"))
  }

  /** The raw-estimate expression over a Σ 2^(32−r) column — one
    * mirrored double chain (alpha_256 · m² / harmonic sum). */
  def estExpr(sumPow: Column): Column =
    lit(0.7213) / (lit(1.0) + lit(1.079) / 256.0) * 65536.0 /
      (sumPow.cast("double") / 4294967296.0)

  /** One-row Σ 2^(32−r) of a register set (exact integer). */
  def sumPow(registers: DataFrame): DataFrame =
    registers.agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - r AS INT))")).as("sum_pow"))

  /** One-row summary: m, untouched-bucket count, the exact integer
    * harmonic sum Σ 2^(32−r), and the raw HLL estimate (mirrored
    * double arithmetic, rounded once). */
  def estimate(registers: DataFrame): DataFrame =
    registers.agg(
        count(lit(1)).as("m"),
        sum(when(col("r") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - r AS INT))")).as("sum_pow"))
      .select(col("m"), col("n_zero"), col("sum_pow"),
        round(estExpr(col("sum_pow")), 6).as("est_raw"))

  /** (bucket, rho) struct of a key — the row-local register
    * contribution (a register set is max(rho) grouped by bucket), the
    * shape a STREAMING windowed aggregation consumes: stateless per
    * row, mergeable by max, no skeleton join (absent buckets are
    * implicit r = 0). */
  def bucketRho(key: Column): Column = {
    val h = hash31(key)
    // h is 31-bit non-negative, so h DIV 256 ≡ shiftright(h, 8)
    struct((h % M).as("bucket"), rho(shiftright(h, 8).cast("long")).as("rho"))
  }

  /** Per-GROUP register vectors: (grp, bucket, r) with all 256 buckets
    * dense per group — "distinct users per segment" in one constant-
    * width aggregation (groups × 256 rows of state, independent of
    * data size). */
  def groupRegisters(df: DataFrame, grp: Column, key: Column): DataFrame = {
    val spark = df.sparkSession
    val hit = df
      .select(grp.as("grp"), hash31(key).as("h"))
      .select(col("grp"), (col("h") % M).as("bucket"), rho(expr("h DIV 256")).as("rho"))
      .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("max_rho"))
      // the skeleton below reuses this aggregate, not the input scan
      .localCheckpoint(false)
    // every group with rows appears in `hit` (≥1 key → ≥1 bucket), so
    // the group list comes from the ≤ groups×256-row aggregate — NOT a
    // second full scan of the input
    val groups = hit.select(col("grp")).distinct()
    groups.crossJoin(spark.range(M).select(col("id").as("bucket")))
      .join(hit, Seq("grp", "bucket"), "left")
      .select(col("grp"), col("bucket"), coalesce(col("max_rho"), lit(0L)).as("r"))
  }

  /** SPARSE per-group registers: only the HIT buckets (grp, bucket,
    * r ≥ 1), untouched buckets implicit (r = 0) — the scale form of
    * [[groupRegisters]] for DATA-SCALED group counts. The dense
    * skeleton is groups × 256 rows no matter how sparse the hits are
    * (q141's (type, window) groups made it a 55× row amplification of
    * the input at gate scale); the sparse aggregate is bounded by
    * min(input rows, groups × 256) and feeds max-merges and
    * [[groupEstimateSparse]] with identical arithmetic. One partial
    * aggregation, shuffle bytes bounded by the same min. */
  def groupRegistersSparse(df: DataFrame, grp: Column, key: Column): DataFrame = {
    df.select(grp.as("grp"), hash31(key).as("h"))
      .select(col("grp"), (col("h") % M).as("bucket"), rho(expr("h DIV 256")).as("rho"))
      .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("r"))
  }

  /** [[groupEstimate]] over SPARSE registers (the
    * [[groupRegistersSparse]] shape, possibly max-merged across
    * windows first). Bit-identical integer output to the dense chain:
    * hit rhos are ≥ 1 by construction (rho(w) ∈ 1..24), so n_zero is
    * exactly the untouched-bucket count 256 − hits, and each untouched
    * bucket contributes exactly 2^(32−0) = 2^32 to the harmonic sum —
    * both recovered arithmetically instead of materializing groups ×
    * 256 zero rows. */
  def groupEstimateSparse(sparse: DataFrame): DataFrame =
    sparse.groupBy(col("grp"))
      .agg(
        count(lit(1)).as("hits"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - r AS INT))")).as("hit_pow"))
      .select(col("grp"), lit(M.toLong).as("m"),
        (lit(M.toLong) - col("hits")).as("n_zero"),
        (col("hit_pow") + (lit(M.toLong) - col("hits")) * 4294967296L).as("sum_pow"))
      .select(col("grp"), col("m"), col("n_zero"), col("sum_pow"),
        round(estExpr(col("sum_pow")), 6).as("est_raw"))

  /** Per-group one-row summaries (same columns as [[estimate]] plus
    * grp). */
  def groupEstimate(registers: DataFrame): DataFrame =
    registers.groupBy(col("grp"))
      .agg(
        count(lit(1)).as("m"),
        sum(when(col("r") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - r AS INT))")).as("sum_pow"))
      .select(col("grp"), col("m"), col("n_zero"), col("sum_pow"),
        round(estExpr(col("sum_pow")), 6).as("est_raw"))

  /** Small-range (linear-counting) correction — apply downstream when
    * untouched buckets remain and the raw estimate is under 2.5m. Uses
    * ln(), whose last ulp is libm-specific, which is why it is NOT part
    * of the cross-engine-exact register/estimate surface above. */
  def corrected(m: Long, nZero: Long, estRaw: Double): Double =
    if (nZero > 0 && estRaw <= 2.5 * m) m * math.log(m.toDouble / nZero) else estRaw
}
