package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
  * MOSS algorithm) — the guaranteed-recall LOCAL sampling of k-gram
  * hashes: pick the minimum hash in every window of `w` consecutive
  * k-grams. Any shared substring of length ≥ k + w − 1 is then
  * guaranteed to contribute at least one IDENTICAL selected
  * fingerprint to both documents — the span-level dup detector that
  * whole-doc digests ([[Dedup]]) and set-level MinHash ([[MinHashLsh]])
  * can't express, and the standard primitive behind copied-boilerplate
  * and quotation mining in web corpora.
  *
  * Determinism: ties inside a window are broken by position (the
  * minimized value is `hash·2^32 + offset`, exact in longs since the
  * polyhash modulus 10^9+7 < 2^30 keeps the product under 2^62), so
  * selection is bit-portable — no "rightmost previous min" state
  * machine needed. 32 offset bits cover every representable
  * document: Spark's `length` is IntegerType, so offsets are
  * structurally ≤ 2^31 − 1 and can never carry into the hash bits.
  *
  * Scale shape: selection is ROW-local — one native codegen'd pass per
  * document ([[graft.functions.WinnowFps]]: rolling k-gram polyhash,
  * monotonic-deque sliding min, distinct) — so the whole selection
  * stage needs NO shuffle at any scale; only the selected fingerprints
  * (a ~2/(w+1) fraction of k-grams, 16 bytes each) shuffle for the
  * cross-doc group-by. (The previous explode → per-doc-window
  * formulation shuffled every offset row; the oracle still replays
  * that form — bit-identical because packed values are unique, so the
  * window min has no ties.)
  */
object Winnowing {

  val K = 8
  val W = 4

  /** Offsets fit 32 bits inside the packed tie-break value (polyhash
    * < 2^30, so hash·2^32 + off < 2^62 stays exact in a long). */
  val PosBits = 32
  val PosScale: Long = 1L << PosBits

  /** Distinct selected fingerprints per document: (id, keys..., fp),
    * with the pass-through `keys` columns of `df` carried along.
    * Documents shorter than k + w − 1 chars have no full window and
    * are absent. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = K, w: Int = W, keys: Seq[String] = Nil): DataFrame = {
    require(k >= 1 && w >= 1, s"need k, w >= 1; got k=$k w=$w")
    df.select((col(idCol).as("id") +: keys.map(col)) :+
      explode(fingerprintSet(col(textCol), k, w)).as("fp"): _*)
  }

  /** The span-level contamination report (q146) of [[fingerprints]]
    * rows against a DISTINCT eval fingerprint set `evalFps` (fp):
    * (doc_id, n_fp, n_shared, contam_ppm, is_contaminated), all
    * integers. A duplicated eval row would multiply the left join and
    * inflate both counts, so callers pass `evalFps` distinct. `keys`
    * are pass-through columns put in front of the per-doc `groupBy` —
    * the streaming twin ([[graft.streaming.Streaming.decontamStream]])
    * passes its event-time window. */
  def contamination(fps: DataFrame, evalFps: DataFrame,
      keys: Seq[String] = Nil): DataFrame =
    fps.join(evalFps.withColumn("hit", lit(1)), Seq("fp"), "left")
      .groupBy(keys.map(col) :+ col("id"): _*)
      .agg(count(lit(1)).as("n_fp"), count(col("hit")).as("n_shared"))
      .select(col("id").as("doc_id"), col("n_fp"), col("n_shared"),
        expr("n_shared * 1000000L DIV n_fp").as("contam_ppm"),
        (col("n_shared") > 0).cast("int").as("is_contaminated"))

  /** The distinct selected fingerprints of one text, as an
    * array<long> — the row-local kernel behind [[fingerprints]]. */
  def fingerprintSet(text: Column, k: Int = K, w: Int = W): Column =
    org.apache.spark.sql.GraftShim.column(graft.functions.WinnowFps(
      org.apache.spark.sql.GraftShim.expression(text), k, w, 1000000007L, PosScale))
}
