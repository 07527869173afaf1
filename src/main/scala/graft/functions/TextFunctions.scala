package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for large-scale training-data pipelines
  * (north star, BASELINE.json): tokenization, quality scoring,
  * language-ID, shingling, content hashing. All pure `Column`
  * expressions — codegen'd, no UDFs, no shuffle; they run at parquet-
  * scan speed over 100 TB of `documents`-shaped data.
  */
object TextFunctions {

  /** Whitespace tokens of the trimmed text; empty text → empty array
    * (Spark's split("") would yield [""]). */
  def tokens(c: Column): Column =
    when(trim(c) === "", array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Native one-pass token statistics ([[TokenStats]]) — semantics
    * identical to the HOF chains they replace (spec-checked against
    * them); the per-row [n_tokens, watch, punct, chars] array is
    * shared across the derived stats via subexpression elimination. */
  private def tokenStatsArr(c: Column, words: Seq[String]): Column =
    GraftFunctions.tokenStats(c, words)

  def tokenCount(c: Column): Column =
    element_at(tokenStatsArr(c, defaultStopwords), 1)

  /** BPE-ish subword count estimate: whitespace tokens plus extra splits
    * at case and letter/digit boundaries — a deterministic proxy for a
    * real tokenizer's token count (no external vocab available).
    * Boundary counting via non-overlapping 2-char matches (not
    * lookarounds, which RE2/DuckDB lacks — keeps it oracle-checkable). */
  private def boundaryCount(c: Column, pattern: String): Column =
    ((length(c) - length(regexp_replace(c, pattern, ""))) / 2).cast(LongType)

  def subwordCountEstimate(c: Column): Column =
    tokenCount(c) + boundaryCount(c, "[a-z][A-Z]") +
      boundaryCount(c, "[A-Za-z][0-9]") + boundaryCount(c, "[0-9][A-Za-z]")

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  def stopwordCount(c: Column, stopwords: Seq[String] = defaultStopwords): Column =
    element_at(tokenStatsArr(c, stopwords), 2)

  def stopwordRatio(c: Column): Column =
    stopwordCount(c).cast("double") / greatest(tokenCount(c), lit(1L)).cast("double")

  /** Total token chars / token count. */
  def avgTokenLen(c: Column): Column =
    element_at(tokenStatsArr(c, defaultStopwords), 4)
      .cast("double") / greatest(tokenCount(c), lit(1L)).cast("double")

  def punctCount(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[.,!?;:]", ""))).cast(LongType)

  def punctRatio(c: Column): Column =
    punctCount(c).cast("double") / greatest(length(c).cast(LongType), lit(1L)).cast("double")

  /** Composite prose-quality score in [0,1]: presence of stopwords
    * (real prose has them), reasonable length, not punctuation soup.
    * Deterministic arithmetic only — mirrored 1:1 in oracle SQL. */
  def qualityScore(c: Column): Column =
    least(stopwordRatio(c) * 5.0, lit(1.0)) * 0.4 +
      least(tokenCount(c).cast("double") / 50.0, lit(1.0)) * 0.4 +
      greatest(lit(1.0) - punctRatio(c) * 4.0, lit(0.0)) * 0.2

  /** Language-ID by marker-token scoring + CJK character fraction —
    * the classic cheap n-gram/stopword heuristic. Deterministic
    * priority tie-break (en > es > de > fr > und). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"))

  def markerCount(c: Column, lang: String): Column =
    element_at(tokenStatsArr(c, langMarkers(lang)), 2)

  def cjkFraction(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[\\x{4E00}-\\x{9FFF}]", ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def langId(c: Column): Column = {
    val en = markerCount(c, "en"); val es = markerCount(c, "es")
    val de = markerCount(c, "de"); val fr = markerCount(c, "fr")
    when(cjkFraction(c) > 0.3, lit("zh"))
      .when(en >= greatest(es, de, fr) && en > 0, lit("en"))
      .when(es >= greatest(de, fr) && es > 0, lit("es"))
      .when(de >= fr && de > 0, lit("de"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("und"))
  }

  /** PII scrubbing for training corpora: emails → <EMAIL>, IPv4 →
    * <IP>, phone-like digit runs → <PHONE>. Patterns are RE2-safe (no
    * lookarounds) so the oracle replays them; application order is
    * pinned (email, ip, phone). Heuristic by design — a recall-first
    * scrub, not a compliance guarantee. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+?[0-9][0-9() -]{7,}[0-9]"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Canonical content hash for exact dedup (SURVEY.md north star):
    * md5 of lower(trim(text)) — stable across engines. */
  def contentHash(c: Column): Column = md5(lower(trim(c)))

  /** Character n-gram shingle set; texts shorter than n → empty set
    * (guard needed: Spark's sequence(1,0) counts DOWN, not empty). */
  def shingles(c: Column, n: Int): Column =
    when(length(c) >= n,
      array_distinct(transform(sequence(lit(1), length(c) - (n - 1)),
        i => c.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Jaccard similarity of two string-array columns (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }
}
