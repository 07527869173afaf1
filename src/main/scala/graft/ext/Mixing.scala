package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Corpus mixture control — deterministic stratified downsampling to
  * target per-stratum rates (the "data mixing" step that rebalances
  * languages/sources/domains before training).
  *
  * The keep decision is a pure hash of the row id (`polyhash(id) mod
  * 10000 < rate_bp`), NOT an RNG draw: every executor, retry, and
  * re-run makes the same decision with no seed plumbing or sampler
  * state, the sampled fraction concentrates tightly around rate_bp/1e4,
  * and the decision is replayable by any engine (oracle-verified).
  * A pure projection + filter — no shuffle; at 100 TB this samples
  * in the scan stage, upstream of everything else.
  */
object Mixing {

  /** Keep each row of stratum `s` with probability `ratesBp(s)/10000`
    * (basis points), `defaultBp` for unlisted strata.
    *
    * The raw rolling polyhash of a SHORT key (e.g. a numeric id) lands
    * in a narrow value band, so `% 10000` alone is visibly biased
    * (measured 57% kept at a 40% target on 3-digit ids); the LCG
    * finalizer `(h*1103515245 + 12345) mod 2^31` avalanches the band
    * across the ring before the rate compare — same constants as the
    * LSH projections, replayable in plain SQL. */
  def stratifiedSample(
      df: DataFrame, idCol: String, strataCol: String,
      ratesBp: Map[String, Int], defaultBp: Int = 10000): DataFrame = {
    require((ratesBp.values ++ Seq(defaultBp)).forall(r => r >= 0 && r <= 10000),
      "rates are basis points in [0, 10000]")
    val rate: Column = ratesBp.foldLeft(lit(defaultBp)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(keyBp(col(idCol)) < rate)
  }

  /** The ONE keep-decision hash point in [0, 10000): avalanched
    * polyhash of the row id (see the class doc for why the LCG
    * finalizer is required). Every sampler in the family — fixed-rate,
    * temperature, importance — compares this same point against its
    * rate, so a row kept at rate r is kept at every rate ≥ r (nested
    * samples, the property that makes rate sweeps monotone).
    *
    * TWO mixing rounds, not one: an LCG's LOW bits form a lattice
    * (bit k of the output depends only on bits ≤ k of the input), so
    * a single `(h·a+c) mod 2³¹ mod 10⁴` point correlates with id
    * RESIDUES — strata assigned round-robin (id mod #strata, the
    * common synthetic/sharded layout) then see wildly skewed
    * per-stratum rates (measured: kept fraction 8%–80% across sources
    * at a 50% rate). The second round folds the high bits back into
    * the low ones (`x ⊕ (x >> 16)`, then another LCG), after which the
    * per-stratum kept fractions sit inside binomial noise (36%–64% on
    * the same data, n≈25/stratum). Both rounds are plain 64-bit-safe
    * integer ops (max intermediate < 2⁴⁸), replayable in any engine. */
  def keyBp(idCol: Column): Column =
    avalanche2(GraftFunctions.polyhash(idCol.cast("string"))) % 10000L

  /** The ONE two-round avalanche (LCG → fold high bits → LCG, mod
    * 2³¹) behind every sampler point and shuffle key in the engine —
    * a single definition, so the constants can never fork between
    * [[keyBp]] and [[shuffleKey]]. Max intermediate < 2⁴⁸, replayable
    * in plain SQL. */
  private def avalanche2(h: Column): Column = {
    val a = (h * 1103515245L + 12345L) % 2147483648L
    (a.bitwiseXOR(shiftright(a, 16)) * 69069L + 1L) % 2147483648L
  }

  /** Full-range deterministic shuffle key for (epoch, id): the
    * [[keyBp]] two-round avalanche ([[avalanche2]]) WITHOUT the final
    * mod 10⁴ — a total order over [0, 2³¹) that re-randomizes per
    * epoch because the epoch tag is hashed WITH the id (concatenated
    * into the polyhash input), not added afterwards. The column-typed
    * overload lets one corpus scan carry every epoch (explode the
    * epoch array, then key row-locally). */
  def shuffleKey(epochCol: Column, idCol: Column): Column =
    avalanche2(GraftFunctions.polyhash(
      concat(epochCol.cast("string"), lit(":"), idCol.cast("string"))))

  def shuffleKey(epoch: Int, idCol: Column): Column = {
    require(epoch >= 0, "epoch is a non-negative tag")
    shuffleKey(lit(epoch), idCol)
  }

  /** Ring width of the avalanched key space: [[shuffleKey]] is uniform
    * on [0, KeyRing). Public because shard math and specs must divide
    * by the SAME ring the key was built on. */
  val KeyRing: Long = 2147483648L // 2^31

  /** Shard count of the epoch shuffle — ONE definition shared by the
    * batch schedule (q191/q192/q193), the streaming router
    * ([[graft.streaming.Streaming.curriculumRouteStream]]) and the
    * specs, so a deployment cannot silently fork the stream's shard
    * mapping from the batch schedule's. A real deployment sizes this
    * to its file/loader parallelism — hundreds of thousands at 100 TB;
    * the mechanics are shard-count-independent. */
  val ShuffleShards: Long = 8L

  /** Proportional shard from a full-range [[shuffleKey]]:
    * `skey·S DIV 2³¹` maps [0, 2³¹) onto exactly 0..S-1 for ANY shard
    * count (dividing the ring by a truncated width would spill past
    * S-1 whenever S does not divide 2³¹); high-bits-first, so the LCG
    * low-bit lattice never reaches the shard decision. The divide is a
    * 31-bit shift — exact integer, no float on the path; product
    * < 2³¹·S, safe for any realistic shard count. */
  def shardOf(skey: Column, shards: Long = ShuffleShards): Column = {
    require(shards > 0, "shard count must be positive")
    shiftright(skey * shards, 31) // == skey·shards DIV KeyRing
  }

  /** Importance sampling: keep each row iff its hash point falls under
    * the row's OWN rate column (basis points) — the per-document
    * selection primitive (DSIR-style weights, [[Dsir]]); stratified /
    * temperature sampling are the constant-rate-per-stratum special
    * cases. A pure filter: no shuffle, runs in the scan stage. */
  def importanceSample(df: DataFrame, idCol: String, rateBpCol: String): DataFrame = {
    df.filter(keyBp(col(idCol)) < col(rateBpCol))
  }

  /** Temperature-scaled rates (α = 1/2): per-stratum keep-rates
    * computed FROM the corpus so kept counts end up ∝ n_s^1/2 — the
    * standard rebalancing exponent that upsamples (relatively) rare
    * languages/sources in a training mix without flattening the
    * distribution entirely. All integer: w_s = ⌊√n_s⌋ (a correctly
    * rounded double sqrt of an integer < 2^52, identical in any
    * engine), rate_bp = 10000·min(w) DIV w_s — the largest stratum is
    * cut hardest, the smallest keeps everything.
    *
    * Returns (stratum, n_docs, w, rate_bp), eagerly checkpointed: it is
    * #strata rows built by one corpus aggregation and typically feeds
    * both the sample filter and a reporting join. */
  def temperatureRates(df: DataFrame, strataCol: String): DataFrame = {
    val n = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_docs"))
    val w = n.withColumn("w", floor(sqrt(col("n_docs"))).cast("long"))
      .localCheckpoint(true)
    val minW = w.agg(min(col("w")).as("min_w"))
    w.crossJoin(broadcast(minW))
      .select(col(strataCol), col("n_docs"),
        col("w"), least(lit(10000L), expr("10000 * min_w DIV w")).as("rate_bp"))
      // #strata rows consumed by the sample filter AND reporting joins —
      // materialize so the min-weight scalar pass isn't re-planned per use
      .localCheckpoint(true)
  }

  /** Apply [[temperatureRates]]-shaped rates (stratum, …, rate_bp):
    * the same avalanched-polyhash keep decision as
    * [[stratifiedSample]], with the rate joined in per stratum (the
    * rates table is #strata rows — broadcast). */
  def sampleWithRates(
      df: DataFrame, idCol: String, strataCol: String, rates: DataFrame): DataFrame = {
    df.join(broadcast(rates.select(col(strataCol), col("rate_bp"))), strataCol)
      .filter(keyBp(col(idCol)) < col("rate_bp"))
      .drop("rate_bp")
  }
}
