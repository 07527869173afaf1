package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines (north star):
  * exact (hash group-by) and n-gram Jaccard near-dup via an inverted
  * shingle index. MinHash/SimHash live in [[MinHashLsh]] / [[SimHash]].
  *
  * Scale design (100 TB): exact dedup is one hash-shuffle on a 16-byte
  * digest (not the full text); near-dup candidate generation bounds the
  * quadratic blowup with a document-frequency cap on shingles — the
  * same role LSH banding plays — so bucket joins stay near-linear.
  */
object Dedup {

  /** Exact-dup group stats: one row per distinct normalized content,
    * with the kept (minimum) id and the duplicate count. The shuffle
    * carries only (hash, id) — at 100 TB the text never moves. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(contentHash(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep exactly one row (min id) per normalized content. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy(col(idCol))
    df.withColumn("content_hash", contentHash(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "content_hash")
  }

  /** [[exactDedup]] that also KEEPS the clone-group size: one full row
    * (min id) per normalized content, plus `n_copies`. This is the
    * upstream stage of the dedup-first posture for exact all-pairs
    * operators (q203/q204): an exact near-dup self-join on a
    * clone-heavy corpus has clone-quadratic OUTPUT by contract (clones
    * are true distance-0 pairs), so the 100 TB form dedups clones
    * FIRST — one hash shuffle, the text never moves — and pairs only
    * the survivors, carrying `n_copies` so every dropped clone pair
    * stays countable (a rep-level pair (a,b) stands for n_a·n_b
    * original pairs; the within-group pairs are C(n_copies, 2) per
    * group, q18's output). Both windows (row_number, count) share one
    * exchange on the content hash. */
  def exactDedupWithCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wOrd = Window.partitionBy("content_hash").orderBy(col(idCol))
    val wAll = Window.partitionBy("content_hash")
    df.withColumn("content_hash", contentHash(col(textCol)))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("n_copies", count(lit(1)).over(wAll))
      .filter(col("__rn") === 1)
      .drop("__rn", "content_hash")
  }

  /** Incremental dedup: drop rows of `newDocs` whose normalized content
    * already exists in a known corpus (supplied as its hash set — at
    * 100 TB the reference corpus travels as 16-byte digests, typically
    * a bucketed table keyed on the hash). Also self-dedups the batch. */
  def dedupAgainstCorpus(
      newDocs: DataFrame, idCol: String, textCol: String,
      knownHashes: DataFrame): DataFrame = {
    // anti-join FIRST: an incremental batch is mostly known content, so
    // discarding it before the windowed self-dedup keeps the shuffle to
    // genuinely fresh rows; the hash is computed once and carried.
    val hashed = newDocs.withColumn("__gch", contentHash(col(textCol)))
    val fresh = hashed.join(
      knownHashes.select(col("content_hash").as("__gch")), Seq("__gch"), "left_anti")
    val w = Window.partitionBy("__gch").orderBy(col(idCol))
    fresh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__gch")
  }

  val ShingleHashMod = 1000000007L

  /** Benchmark decontamination: drop every doc sharing at least one
    * character `n`-gram with the benchmark/eval set — the overlap gate
    * that keeps test data out of training corpora. Shingles travel as
    * 8-byte hashes; the benchmark's distinct shingle set broadcasts
    * (eval suites are small — the 100 TB side is the corpus, which is
    * scanned once and never shuffled: explode → broadcast semi join →
    * distinct contaminated ids → anti join). Docs shorter than `n`
    * have no shingles and are always kept. */
  def decontaminate(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, n: Int = 8): DataFrame = {
    def sh(c: Column) = graft.functions.VectorFunctions.hashedShingles(c, n, ShingleHashMod)
    val benchShingles = benchmark.select(explode(sh(col(textCol))).as("sh")).distinct()
    val contaminatedIds = docs
      .select(col(idCol), explode(sh(col(textCol))).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** Near-duplicate pairs by n-gram Jaccard: inverted index on
    * character shingles → candidate pairs sharing ≥1 rare shingle →
    * exact Jaccard verification → threshold filter.
    *
    * `maxShingleDf` drops shingles appearing in more than that many
    * docs ("the fast " tells you nothing); it bounds each index
    * bucket, so candidate generation is O(Σ bucket²) ≤ O(docs ·
    * maxShingleDf) instead of O(docs²). The verification join ships
    * each text once per candidate partner — fine when candidates are
    * sparse; for dense near-dup clusters switch to MinHash signatures
    * ([[MinHashLsh]]) which verify without the raw text.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      threshold: Double = 0.4,
      maxShingleDf: Int = 50): DataFrame =
    ngramJaccardPairsFromSets(hashedShingleSets(df, idCol, textCol, n),
      threshold, maxShingleDf)

  /** The (id, sh_set) hashed n-gram shingle sets a document table
    * explodes to — the shared upstream of the whole shingle-dedup
    * family ([[ngramJaccardPairsFromSets]], [[containmentPairsFromSets]],
    * [[containmentCorpusIndex]]): shingles travel as 8-byte hashes, not
    * strings — the verification joins ship two ~300-element arrays per
    * candidate pair, and the hashed+sorted representation shrinks that
    * ~3x and makes set intersections a two-pointer merge. Hash
    * collisions merge shingles identically in the oracle (same
    * arithmetic), so parity holds. Compute ONCE per corpus version and
    * feed every consumer — shingling re-scans the full text, the
    * dominant upstream cost of the family. */
  def hashedShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    df.select(col(idCol).as("id"),
      graft.functions.VectorFunctions
        .hashedShingles(col(textCol), n, ShingleHashMod).as("sh_set"))
  }

  /** [[ngramJaccardPairs]] over precomputed [[hashedShingleSets]].
    * Same ASCENDING-sorted-distinct `sh_set` precondition as
    * [[containmentPairsFromSets]] (the Jaccard kernel is the same
    * two-pointer merge). */
  def ngramJaccardPairsFromSets(
      sets: DataFrame,
      threshold: Double,
      maxShingleDf: Int): DataFrame =
    jaccardVerify(candidateSetPairs(sets, maxShingleDf), threshold)

  /** [[ngramJaccardPairsFromSets]] with candidates derived from a
    * prebuilt [[shingleBuckets]] table (same sets frame) — identical
    * output, minus the per-query corpus-sized index aggregation. */
  def ngramJaccardPairsFromBuckets(
      sets: DataFrame,
      buckets: DataFrame,
      threshold: Double,
      maxShingleDf: Int): DataFrame =
    jaccardVerify(
      candidateSetPairsFromBuckets(sets, buckets, 0, maxShingleDf), threshold)

  private def jaccardVerify(withSets: DataFrame, threshold: Double): DataFrame = {
    // lossless size prefilter before the merge kernel: |A∩B| ≤ min and
    // |A∪B| ≥ max, so J ≤ min(|A|,|B|)/max(|A|,|B|) — pairs whose size
    // ratio is below the threshold cannot pass and skip the O(|A|+|B|)
    // two-pointer walk entirely (pure codegen'd comparison on the
    // already-present array headers)
    val sa = size(col("set_a")).cast("double")
    val sb = size(col("set_b")).cast("double")
    withSets
      .filter(least(sa, sb) >= greatest(sa, sb) * threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.arrayJaccardLong(col("set_a"), col("set_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shared shingle-index candidate generation for the pairwise dedup
    * family ([[ngramJaccardPairs]], [[containmentPairs]]): ONE
    * aggregation of the inverted index into per-shingle posting lists,
    * in-bucket pair expansion, dedup, and the two-sided set join —
    * output (id_a, id_b, set_a, set_b) with id_a < id_b. The earlier
    * formulation (df-count window + self-join on shingle) planned the
    * full explode+shuffle+sort pipeline TWICE (once per join side) and
    * sorted 300k rows per doc-shingle; grouping emits the same
    * candidate set from a single sort-free shuffle, and the
    * maxShingleDf cap bounds every posting list, so the in-bucket
    * expansion is O(maxShingleDf²) per bucket — driver-bounded memory
    * regardless of corpus size. `docs` must carry (id, sh_set). */
  private def candidateSetPairs(docs: DataFrame, maxShingleDf: Int): DataFrame = {
    val buckets = docs.select(col("id"), explode(col("sh_set")).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleDf))
    expandAndFetch(buckets, docs)
  }

  /** The ANNOTATED inverted shingle index — one row per shingle with
    * its id-ascending member list carrying each member's set size:
    * (sh, members: array<struct<id, nsh>>). The ONE corpus-sized
    * explode + shuffle the whole pairwise-dedup family needs: every
    * family member's candidate generation (q19's all-docs cap, q151's
    * min-shingle-filtered cap, q155's parity-split probe) is a
    * row-local filter/transform of these buckets — the df cap and the
    * min-shingle floor commute with per-member filtering because nsh
    * rides IN the bucket (a bucket's capped size under a filter is the
    * size of its filtered member list, exactly what building the index
    * from the filtered corpus would produce). Memory shape identical
    * to [[candidateSetPairs]]'s interior: the aggregation collects
    * uncapped lists and filters after, as before. */
  def shingleBuckets(sets: DataFrame): DataFrame =
    sets.select(col("id"), size(col("sh_set")).cast("long").as("nsh"),
        explode(col("sh_set")).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(struct(col("id"), col("nsh")))).as("members"))

  /** [[candidateSetPairs]] candidate generation DERIVED from a
    * prebuilt [[shingleBuckets]] table instead of re-running the
    * corpus-sized explode+aggregate: members below `minShingles` drop
    * row-locally (struct order is id-ascending, and filtering
    * preserves it), then the same cap + in-bucket expansion + fetch.
    * `docs` must be the correspondingly filtered (id, sh_set) frame
    * for the verification fetch. */
  private def candidateSetPairsFromBuckets(docs: DataFrame, buckets: DataFrame,
      minShingles: Int, maxShingleDf: Int): DataFrame = {
    val kept =
      if (minShingles > 0)
        filter(col("members"), m => m.getField("nsh") >= minShingles)
      else col("members")
    val b2 = buckets
      .select(transform(kept, m => m.getField("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleDf))
    expandAndFetch(b2, docs)
  }

  /** Shared tail of the pairwise candidate generation: in-bucket pair
    * expansion over the (≤ maxShingleDf) id lists, dedup, and the
    * two-sided sort-merge set fetch. */
  private def expandAndFetch(buckets: DataFrame, docs: DataFrame): DataFrame = {
    val cand = buckets
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    // the set-fetch joins must NEVER broadcast the sets side: Catalyst
    // sizes it from the parquet scan (text compresses small), but
    // hashedShingles inflates every row to a ~300-element long array —
    // at 100× the "58 MB" estimate is ~12 GB in driver memory and the
    // broadcast build OOMs (caught by the 100× scale-stress). The
    // merge hint pins sort-merge: id-keyed, spillable, the join a
    // 100 TB corpus needs anyway; at toy scale it costs two sorts of
    // candidate-bounded rows.
    //
    // (A union-fetch variant — explode each pair into two (side, id)
    // legs, ONE merge join, reassemble by pair key — was measured in
    // r18's optimization round and REVERTED: candidates outnumber
    // docs here, so shipping 2·|cand| array rows through the
    // reassembly exchange costs more than the one docs-sized
    // exchange it saves. Keep the two-join form unless |cand| ≪ |docs|.)
    cand
      .join(docs.select(col("id").as("id_a"), col("sh_set").as("set_a"))
        .hint("merge"), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh_set").as("set_b"))
        .hint("merge"), Seq("id_b"))
  }

  /** DIRECTED shingle containment — `src ⊆ dst` detection: for each
    * candidate pair, emit (src, dst) whenever |S_src ∩ S_dst| / |S_src|
    * ≥ thresholdBp/10000 (both directions tested; a pair of near-equal
    * docs yields two rows). This is the asymmetric relation symmetric
    * Jaccard (q19/q20) structurally CANNOT see: a short document wholly
    * quoted inside a long one has Jaccard ≈ |S_src|/|S_dst| (arbitrarily
    * small) but containment 1.0 — the quote/subset duplication class a
    * curation pass actually wants to catch.
    *
    * All-integer verdict: inter·10000 ≥ thresholdBp·|S_src| and the
    * shipped ratio is fixed-point ppm, so the oracle replays it exactly.
    * Candidates come from the same capped posting-list index as
    * [[ngramJaccardPairs]] (the df cap is part of the operator's
    * definition, mirrored in the oracle); documents below `minShingles`
    * carry too little evidence for a ratio test and are excluded.
    * Scale shape identical to q19: shingles travel as 8-byte hashes,
    * posting lists are df-capped so in-bucket expansion is bounded, and
    * the verification join ships two hash arrays per candidate pair. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      thresholdBp: Int = 9000,
      minShingles: Int = 20,
      maxShingleDf: Int = 20): DataFrame =
    containmentPairsFromSets(hashedShingleSets(df, idCol, textCol, n),
      thresholdBp, minShingles, maxShingleDf)

  /** [[containmentPairs]] over precomputed [[hashedShingleSets]].
    *
    * PRECONDITION: every `sh_set` array must be ASCENDING-sorted and
    * distinct — the [[hashedShingleSets]] representation. The
    * verification kernel is a two-pointer merge whose count is only
    * correct under that contract; arbitrary caller arrays (e.g. raw
    * `collect_set` output, which Spark does NOT sort) violate it. The
    * kernel detects violations on every element it visits and throws
    * rather than undercounting (VectorKernels.intersectSizeSortedLong),
    * but callers should normalize with `array_sort(array_distinct(…))`
    * up front, not rely on the tripwire. */
  def containmentPairsFromSets(
      sets: DataFrame,
      thresholdBp: Int,
      minShingles: Int,
      maxShingleDf: Int): DataFrame = {
    val docs = sets.filter(size(col("sh_set")) >= minShingles)
    containmentVerifyPairs(candidateSetPairs(docs, maxShingleDf), thresholdBp)
  }

  /** [[containmentPairsFromSets]] with candidates derived from a
    * prebuilt [[shingleBuckets]] table over the SAME (unfiltered) sets
    * frame — the min-shingle floor applies per member inside each
    * bucket (so the df cap counts exactly the floored corpus, as
    * building the index from the filtered corpus would). Identical
    * output, minus the per-query corpus-sized index aggregation. */
  def containmentPairsFromBuckets(
      sets: DataFrame,
      buckets: DataFrame,
      thresholdBp: Int,
      minShingles: Int,
      maxShingleDf: Int): DataFrame = {
    val docs = sets.filter(size(col("sh_set")) >= minShingles)
    containmentVerifyPairs(
      candidateSetPairsFromBuckets(docs, buckets, minShingles, maxShingleDf),
      thresholdBp)
  }

  private def containmentVerifyPairs(withSets: DataFrame, thresholdBp: Int): DataFrame = {
    val scored = withSets
      // arrays are distinct by construction, so the built-in intersect
      // size is the exact integer overlap — computed ONCE per unordered
      // pair, then fanned into the two directed tests
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions
          .arrayIntersectSizeLong(col("set_a"), col("set_b")).as("inter"),
        size(col("set_a")).cast("long").as("n_a"),
        size(col("set_b")).cast("long").as("n_b"))
    scored
      .select(col("inter"), explode(array(
        struct(col("id_a").as("src_id"), col("id_b").as("dst_id"),
          col("n_a").as("n_src"), col("n_b").as("n_dst")),
        struct(col("id_b").as("src_id"), col("id_a").as("dst_id"),
          col("n_b").as("n_src"), col("n_a").as("n_dst")))).as("d"))
      .select(col("d.src_id"), col("d.dst_id"), col("inter").as("n_inter"),
        col("d.n_src"), col("d.n_dst"))
      .filter(col("n_inter") * 10000L >= lit(thresholdBp.toLong) * col("n_src"))
      .withColumn("cont_ppm", expr("n_inter * 1000000L DIV n_src"))
  }

  /** Block-level exact dedup — the CCNet/C4 paragraph-hash pass at
    * sub-document granularity: segment each document into consecutive
    * `blockWords`-word blocks, keep each distinct block's FIRST corpus
    * occurrence (min (id, idx) — within-doc repeats drop too), and
    * reassemble the surviving text. Removes repeated boilerplate
    * INSIDE otherwise-unique documents — the granularity whole-doc
    * dedup ([[exactDedup]]) can't touch and span fingerprinting
    * ([[Winnowing]]) only detects. Scale shape: blocks travel as
    * 8-byte polyhashes into ONE map-side-combined min-owner
    * aggregation; the keep verdict joins back by hash; reassembly
    * sorts only each doc's few surviving (idx, block) pairs. The only
    * strings shuffled are the blocks themselves, once each. */
  def blockDedup(df: DataFrame, idCol: String, textCol: String,
      blockWords: Int = 20): DataFrame = {
    val docs = df
      .select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) > 0)
    val blocks = docs
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) - 1) DIV $blockWords), " +
          s"i -> array_join(slice(t, i * $blockWords + 1, $blockWords), ' '))"))
        .as(Seq("idx", "block")))
      .withColumn("h", graft.functions.GraftFunctions.polyhash(col("block")))
    val owners = blocks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("own"))
    blocks.join(owners, Seq("h"))
      .withColumn("keep",
        (col("doc_id") === col("own.doc_id") && col("idx") === col("own.idx"))
          .cast("int"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("keep")).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(" +
          "CASE WHEN keep = 1 THEN struct(idx, block) END)), x -> x.block)"), " ")
          .as("clean_text"))
      .withColumn("n_removed", col("n_blocks") - col("n_kept"))
  }

  /** The block hashes of a corpus — the static "known blocks" index
    * [[blockDedupAgainstCorpus]] and the streaming twin probe: one
    * column `h` of distinct 8-byte polyhashes over `blockWords`-word
    * blocks. Build once per corpus version; ~8 bytes per distinct
    * block. */
  def blockHashes(corpus: DataFrame, textCol: String,
      blockWords: Int = 20): DataFrame = {
    corpus
      .select(graft.functions.TextFunctions.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) > 0)
      .select(explode(expr(
        s"transform(sequence(0, (size(t) - 1) DIV $blockWords), " +
          s"i -> array_join(slice(t, i * $blockWords + 1, $blockWords), ' '))"))
        .as("block"))
      .select(graft.functions.GraftFunctions.polyhash(col("block")).as("h"))
      .distinct()
  }

  /** Incremental block-level dedup — [[blockDedup]]'s ingest form: for
    * a batch of FRESH documents, drop every block already present in
    * the known-corpus hash set PLUS within-doc repeats (first
    * occurrence wins, decided ROW-locally via the block list's first
    * index — no cross-fresh-doc coupling, so the verdict for a
    * document depends only on that document and the static index:
    * exactly reproducible by the streaming twin one doc at a time).
    * Scale shape: the fresh batch explodes to (hash, block) rows, one
    * equi-join against the known hashes (the corpus-sized side stays
    * partitioned — nothing broadcasts), one per-doc reassembly agg.
    *
    * `keys` are pass-through columns of `fresh` (empty for a batch),
    * carried through the row-local stage and put in front of the
    * per-doc `groupBy`: the streaming twin
    * ([[graft.streaming.Streaming.blockDedupStream]]) passes its
    * event-time window, so the reassembly becomes its windowed
    * aggregate. */
  def blockDedupAgainstCorpus(fresh: DataFrame, idCol: String, textCol: String,
      knownHashes: DataFrame, blockWords: Int = 20,
      keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val blocks = fresh
      .select((col(idCol).as("doc_id") +: keyCols) :+
        graft.functions.TextFunctions.tokens(col(textCol)).as("t"): _*)
      .filter(size(col("t")) > 0)
      .withColumn("bs", expr(
        s"transform(sequence(0, (size(t) - 1) DIV $blockWords), " +
          s"i -> array_join(slice(t, i * $blockWords + 1, $blockWords), ' '))"))
      .select((col("doc_id") +: keyCols) ++
        Seq(col("bs"), posexplode(col("bs")).as(Seq("idx", "block"))): _*)
      // within-doc first occurrence, decided inside the row
      .withColumn("first_in_doc", expr("array_position(bs, block) = idx + 1"))
      .drop("bs")
      .withColumn("h", graft.functions.GraftFunctions.polyhash(col("block")))
    blocks
      .join(knownHashes.select(col("h")).distinct()
        .withColumn("known", lit(1)), Seq("h"), "left")
      .withColumn("keep", (col("first_in_doc") && col("known").isNull).cast("int"))
      .groupBy(keyCols :+ col("doc_id"): _*)
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("keep")).as("n_kept"),
        count(col("known")).as("n_known"),
        array_join(expr("transform(array_sort(collect_list(" +
          "CASE WHEN keep = 1 THEN struct(idx, block) END)), x -> x.block)"), " ")
          .as("clean_text"))
      .withColumn("n_removed", col("n_blocks") - col("n_kept"))
  }

  /** Static corpus index for the containment PROBE family
    * ([[containmentAgainstCorpus]] and its streaming twin
    * [[graft.streaming.Streaming.containmentProbeStream]]): the
    * df-capped posting lists (sh, corpus_id) — a shingle shared by
    * more than `maxShingleDf` corpus docs indexes none of them, the
    * [[candidateSetPairs]] discipline, and the cap is part of the
    * operator definition, mirrored in the oracle — plus the full
    * per-doc shingle sets for exact verification. Build ONCE, reuse
    * across probe batches or a whole stream; both outputs carry only
    * 8-byte hashes, never text. Unlike the in-corpus index, size-1
    * buckets stay: the probe side supplies the pair's second member. */
  def containmentCorpusIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minShingles: Int = 20, maxShingleDf: Int = 20)
    : (DataFrame, DataFrame) =
    containmentCorpusIndexFromSets(
      hashedShingleSets(corpus, idCol, textCol, n), minShingles, maxShingleDf)

  /** [[containmentCorpusIndex]] over precomputed [[hashedShingleSets]]
    * (id, sh_set) rows for the corpus side. */
  def containmentCorpusIndexFromSets(
      corpusSets: DataFrame, minShingles: Int, maxShingleDf: Int)
    : (DataFrame, DataFrame) = {
    val sets = corpusSets
      .select(col("id").as("corpus_id"), col("sh_set").as("set_c"))
      .filter(size(col("set_c")) >= minShingles)
    val postings = sets
      .select(col("corpus_id"), explode(col("set_c")).as("sh"))
      .groupBy(col("sh"))
      .agg(collect_list(col("corpus_id")).as("ids"))
      .filter(size(col("ids")) <= maxShingleDf)
      .select(explode(col("ids")).as("corpus_id"), col("sh"))
    (postings, sets)
  }

  /** Directed containment of FRESH documents against a static corpus
    * ([[containmentCorpusIndex]]) — the ingest-side question q151
    * answers in-corpus: is this incoming doc already quoted inside
    * (or does it wholly quote) something we have? One row per
    * (doc, corpus doc) candidate passing EITHER direction at
    * `thresholdBp`; both fixed-point ppm ratios ship so the caller
    * picks the direction it cares about. All-integer verdict:
    * inter·10⁴ ≥ t·min(n_doc, n_corpus) ⟺ either directed ratio
    * clears t. Scale shape: the incoming batch explodes to 8-byte
    * hashes, equi-joins the capped postings, candidates dedup, and
    * the verification join ships two hash arrays per candidate —
    * identical to q151's verified shape; the corpus is never
    * rescanned (the index is the corpus-sized artifact). */
  def containmentAgainstCorpus(
      newDocs: DataFrame, idCol: String, textCol: String,
      postings: DataFrame, sets: DataFrame,
      n: Int = 8, thresholdBp: Int = 9000, minShingles: Int = 20): DataFrame =
    containmentAgainstCorpusFromSets(
      hashedShingleSets(newDocs, idCol, textCol, n),
      postings, sets, thresholdBp, minShingles)

  /** [[containmentAgainstCorpus]] over precomputed [[hashedShingleSets]]
    * (id, sh_set) rows for the fresh batch.
    *
    * PRECONDITION: `sh_set` (fresh batch) and `set_c` (corpus sets)
    * arrays must be ASCENDING-sorted and distinct — the
    * [[hashedShingleSets]] representation; see
    * [[containmentPairsFromSets]] for why and what happens otherwise
    * (the merge kernel throws on any violation it visits instead of
    * silently undercounting). */
  def containmentAgainstCorpusFromSets(
      freshSets: DataFrame, postings: DataFrame, sets: DataFrame,
      thresholdBp: Int, minShingles: Int): DataFrame = {
    val docs = freshSets.select(col("id").as("doc_id"), col("sh_set"))
      .filter(size(col("sh_set")) >= minShingles)
    val cand = docs.select(col("doc_id"), explode(col("sh_set")).as("sh"))
      .join(postings, Seq("sh"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    containmentVerifyProbe(cand, docs, sets, thresholdBp)
  }

  /** The probe family's exact-verification tail — (doc_id, corpus_id)
    * candidates joined to both sides' full sets, the two-pointer
    * intersection, and the either-direction threshold. Shared by
    * [[containmentAgainstCorpusFromSets]] and bucket-derived candidate
    * generators (the q155 in-bucket path), so the verification
    * arithmetic cannot fork. */
  private[graft] def containmentVerifyProbe(
      cand: DataFrame, docs: DataFrame, sets: DataFrame,
      thresholdBp: Int): DataFrame =
    // same no-broadcast contract as candidateSetPairs: both set sides
    // carry inflated hash arrays the scan-size estimate cannot see
    containmentVerdict(cand.join(docs.hint("merge"), Seq("doc_id"))
      .join(sets.hint("merge"), Seq("corpus_id")), thresholdBp)

  /** The verdict of [[containmentVerifyProbe]] over candidate rows that
    * already carry both full sets (doc_id, corpus_id, sh_set, set_c):
    * the two-pointer intersection, the all-integer either-direction
    * threshold and both ppm ratios. The streaming twin
    * ([[graft.streaming.Streaming.containmentProbeStream]]) applies it
    * to its windowed candidates. */
  private[graft] def containmentVerdict(withSets: DataFrame,
      thresholdBp: Int): DataFrame =
    withSets
      .select(col("doc_id"), col("corpus_id"),
        graft.functions.VectorFunctions
          .arrayIntersectSizeLong(col("sh_set"), col("set_c")).as("n_inter"),
        size(col("sh_set")).cast("long").as("n_doc"),
        size(col("set_c")).cast("long").as("n_corpus"))
      .filter(col("n_inter") * 10000L >=
        lit(thresholdBp.toLong) * least(col("n_doc"), col("n_corpus")))
      .withColumn("doc_in_corpus_ppm", expr("n_inter * 1000000L DIV n_doc"))
      .withColumn("corpus_in_doc_ppm", expr("n_inter * 1000000L DIV n_corpus"))
}
