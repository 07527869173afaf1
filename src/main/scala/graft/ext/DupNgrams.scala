package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** Corpus-wide EXACT duplicated n-gram detection — the token-level
  * formulation of exact substring deduplication (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better"): a
  * token n-gram is *duplicated* when it occurs ≥ 2 times across the
  * corpus (including within one document), and a token is *covered*
  * when at least one duplicated n-gram's span contains it.
  *
  * Complements the approximate span family: [[Winnowing]] samples
  * fingerprints (guaranteed recall only above the window threshold),
  * [[MinHashLsh]]/[[Dedup.ngramJaccardPairs]] judge whole documents —
  * this operator gives the exact per-token duplication mask a
  * memorization-sensitive pipeline prunes on.
  *
  * Scale design (100 TB): everything is explode → one hash-shuffle on
  * the gram key → one per-doc aggregate. No pair emission, no
  * cartesian; the shuffle is n_tokens·N gram keys. Grams here travel
  * as their token strings, which keeps the semantics collision-free
  * and oracle-checkable; at 100 TB the drop-in lever is replacing the
  * string key with a 128-bit content hash (identical plan shape,
  * shuffle shrinks from ~N·8 bytes/token to 16 bytes/gram) — the
  * suffix-array construction of the paper avoids the N× blowup
  * entirely but is a sequential external-memory build, not a fit for
  * a shuffle-based engine. Coverage per doc is an interval-union
  * folded over the doc's sorted starts (sum of min(N, gap)), not by
  * expanding spans to positions.
  */
object DupNgrams {

  /** Default span width: 8 tokens — long enough that English text
    * collides only on genuine duplication, short enough to catch
    * boilerplate fragments (the paper uses 50 BPE tokens on corpora
    * of book-length documents; web-scale doc pipelines commonly run
    * 8-13 word grams). */
  val DefaultN = 8

  /** SQL text of the (pos, gram) struct array over a tokens column —
    * the ONE place the gram recipe lives on the engine side
    * ([[gramPositions]] and [[coverageAgainstDict]] must never fork
    * it). Caller guarantees `size(tokCol) >= n` (Spark's `sequence` runs
    * DESCENDING when start > stop, which would fabricate grams). */
  private def gramStructsExpr(tokCol: String, n: Int): String =
    s"transform(sequence(1, size($tokCol) - ${n - 1}), " +
    s"i -> struct(cast(i as bigint) as pos, array_join(slice($tokCol, i, $n), ' ') as gram))"

  /** (id, keys..., pos, gram) for every token n-gram of every
    * document, with the pass-through `keys` columns of `df` carried
    * along; `pos` is the 1-based index of the gram's FIRST token.
    * Tokenization is the engine-wide whitespace split of the
    * lower-cased text (the [[Dedup]]/q43 discipline). Docs shorter
    * than `n` emit nothing. */
  def gramPositions(df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultN, keys: Seq[String] = Nil): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val keyCols = keys.map(col)
    df.select((col(idCol).as("id") +: keyCols) :+ toks.as("__t"): _*)
      .filter(size(col("__t")) >= n)
      .select((col("id") +: keyCols) :+ explode(expr(gramStructsExpr("__t", n))).as("g"): _*)
      .select((col("id") +: keyCols) ++ Seq(col("g.pos").as("pos"), col("g.gram").as("gram")): _*)
  }

  /** Row-local interval-union cover of SORTED 1-based span starts,
    * each spanning `n` tokens: first start contributes n, each later
    * one min(n, gap to its predecessor), folded over the array
    * [[coverageAgainstDict]] collects per doc (no window pass, no
    * second shuffle). Empty array → 0. */
  private def coveredFromSortedStarts(ps: Column, n: Int): Column = {
    val nn = lit(n.toLong)
    when(size(ps) === 0, lit(0L)).otherwise(
      aggregate(
        slice(ps, lit(2), greatest(size(ps) - 1, lit(0))),
        struct(nn.as("cov"), element_at(ps, 1).as("prev")),
        (acc, p) => struct((acc("cov") + least(nn, p - acc("prev"))).as("cov"),
          p.as("prev")),
        acc => acc("cov")))
  }

  /** The corpus's duplicated-gram dictionary: every n-gram occurring
    * ≥ 2 times, with its total occurrence count and distinct-doc
    * count. This is the persistable serving artifact — an incremental
    * batch probes it without rescanning the standing corpus (the
    * q159/q120 ingest discipline). */
  def dupGramDict(grams: DataFrame): DataFrame =
    grams.groupBy("gram")
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("id")).as("n_docs"))
      .filter(col("n_occ") >= 2)

  /** The FULL gram-count table (gram, n_occ) — the standing state an
    * INCREMENTAL exact-substring-dedup deployment maintains across
    * ingests ([[dupGramDict]] is its n_occ ≥ 2 projection: a gram seen
    * once must stay on file, or its second occurrence in a later batch
    * could never be recognized as a duplication). */
  def gramCounts(grams: DataFrame): DataFrame =
    grams.groupBy("gram").agg(count(lit(1)).as("n_occ"))

  /** Merge a batch's gram counts into the standing counts — the next
    * generation of the standing state: one full-outer join on the gram
    * key, counts added (a gram absent from one side contributes 0).
    * Exact and associative, so daily ingests fold in any order. */
  def mergeCounts(standing: DataFrame, batch: DataFrame): DataFrame =
    standing.select(col("gram"), col("n_occ").as("__c0"))
      .join(batch.select(col("gram"), col("n_occ").as("__cb")),
        Seq("gram"), "full_outer")
      .select(col("gram"),
        (coalesce(col("__c0"), lit(0L)) + coalesce(col("__cb"), lit(0L)))
          .as("n_occ"))

  /** Duplicated-gram start positions per document: (id, keys..., pos)
    * for each gram of the doc present in `dict`, with the pass-through
    * `keys` columns of [[gramPositions]] carried along. The join is a
    * left-semi on the gram key — only (id, pos) survives the shuffle
    * back. */
  def dupStarts(grams: DataFrame, dict: DataFrame, keys: Seq[String] = Nil): DataFrame =
    grams.join(dict.select("gram"), Seq("gram"), "left_semi")
      .select((col("id") +: keys.map(col)) :+ col("pos"): _*)

  /** Per-doc duplication profile over ALL docs of `df`:
    * (id, n_tokens, dup_grams, covered_tokens, coverage_ppm) — the
    * probe [[coverageAgainstDict]] against the corpus's own
    * [[dupGramDict]]. `covered_tokens` is the exact size of the union
    * of the [pos, pos+n-1] spans: sorted by pos, each span adds
    * min(n, pos − previous pos) new tokens. Integer ppm keeps the
    * output hash-stable. */
  def coverage(df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultN): DataFrame =
    coverageAgainstDict(df, idCol, textCol,
      dupGramDict(gramPositions(df, idCol, textCol, n)), n)

  /** Probe an INCREMENTAL batch against a frozen duplicated-gram
    * dictionary: coverage of `fresh` w.r.t. grams already known
    * duplicated in the standing corpus, in [[coverage]]'s columns.
    * Serving-side only — no dictionary (re)build, the corpus never
    * rescans; `dict` is the loaded [[dupGramDict]] artifact.
    *
    * No window pass and no join back: the dictionary's hit starts
    * ([[dupStarts]]) and one token-count row
    * per document (so a doc without hits, or shorter than `n`, still
    * emits its zero profile) union into ONE per-doc aggregate, whose
    * sorted starts [[coveredFromSortedStarts]] folds. `keys` are
    * pass-through columns of `fresh` (empty for a batch) put in front
    * of that `groupBy` — the streaming twin
    * ([[graft.streaming.Streaming.dupGramProbeStream]]) passes its
    * event-time window. */
  def coverageAgainstDict(fresh: DataFrame, idCol: String, textCol: String,
      dict: DataFrame, n: Int = DefaultN, keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val docRows = fresh.select((col(idCol).as("id") +: keyCols) :+
      size(tokens(lower(col(textCol)))).cast("long").as("n_tokens"): _*)
    val starts = dupStarts(gramPositions(fresh, idCol, textCol, n, keys), dict, keys)
    docRows.unionByName(starts, allowMissingColumns = true)
      .groupBy(keyCols :+ col("id"): _*)
      .agg(max(col("n_tokens")).as("n_tokens"),
        sort_array(collect_list(col("pos"))).as("__ps"))
      .select(keyCols ++ Seq(col("id"), col("n_tokens"),
        size(col("__ps")).cast("long").as("dup_grams"),
        coveredFromSortedStarts(col("__ps"), n).as("covered_tokens")): _*)
      .withColumn("coverage_ppm",
        when(col("n_tokens") > 0, expr("covered_tokens * 1000000L DIV n_tokens"))
          .otherwise(lit(0L)))
  }

  /** Prune covered spans: rebuild each document keeping only tokens NOT
    * covered by any duplicated n-gram — the destructive half of exact
    * substring dedup. Returns (id, kept_tokens, pruned_text); docs with
    * nothing duplicated pass through verbatim (modulo the engine-wide
    * lower/whitespace normalization). Covered positions are enumerated
    * per doc by exploding each start to its n positions and
    * distinct-ing — bounded by n × dup_starts, not by doc length. */
  def prune(df: DataFrame, idCol: String, textCol: String,
      n: Int = DefaultN): DataFrame = {
    val grams = gramPositions(df, idCol, textCol, n)
    val starts = dupStarts(grams, dupGramDict(grams))
    val covered = starts
      .select(col("id"), explode(expr(s"sequence(pos, pos + ${n - 1})")).as("pos"))
      .distinct()
      .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("__cov"))
    df.select(col(idCol).as("id"), tokens(lower(col(textCol))).as("__t"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), expr(
        """filter(transform(__t, (tok, i) -> struct(cast(i + 1 as bigint) as p, tok as tok)),
          |  x -> __cov is null or not array_contains(__cov, x.p))""".stripMargin)
        .as("__keep"))
      .select(col("id"),
        size(col("__keep")).cast("long").as("kept_tokens"),
        expr("array_join(transform(__keep, x -> x.tok), ' ')").as("pruned_text"))
  }
}
