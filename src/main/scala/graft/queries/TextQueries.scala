package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Dedup
import graft.functions.TextFunctions._

/** Text-analysis + dedup operator queries over `documents` (north-star
  * extensions; SURVEY.md §2 addenda). Every expression here is mirrored
  * structurally in the oracle SQL — identical operation order keeps the
  * IEEE double results bit-equal between Spark and DuckDB.
  */
object TextQueries {

  /** Session-scoped cache of the documents table's 8-gram hashed
    * shingle sets (id, sh_set) — the shared upstream of the
    * shingle-dedup family (q19 Jaccard pairs, q151 containment pairs,
    * q155 containment probe): shingling re-scans every document's full
    * text, so without sharing each family member pays the dominant
    * upstream cost again. Materialized once per (session, dir) — 8
    * bytes per distinct shingle, the corpus-sized artifact a real
    * pipeline computes once per corpus version (the
    * [[AnalyticsQueries]] graph-cache / [[SketchQueries]] vector-cache
    * discipline). Hash-neutral: consumers run the identical operators
    * over the identical sets. `localCheckpoint` blocks are
    * unrecoverable after executor loss, a reason a long-lived
    * deployment would persist the artifact to storage instead
    * ([[graft.ext.VectorIndexStore]]). */
  private val shingleCache = SessionArtifact[DataFrame]("shingle_sets")

  private[queries] def sharedShingleSets(s: SparkSession, dir: String): DataFrame =
    shingleCache(s, dir) {
      // id-hash-partitioned + id-sorted INTO the checkpoint
      // (GraftShim.localCheckpointHashLayout — plain localCheckpoint
      // drops the layout under AQE), so every downstream id-keyed
      // set-fetch merge join (q151's pair verify, q155's probe verify,
      // the sharedJaccardPairs build) consumes the artifact
      // exchange-free AND sort-free — only the candidate side still
      // shuffles. The bucketed-table discipline (guide §2.4) applied
      // to the session artifact; one exchange+sort at build time
      // replaces two per consumer query. Filters/alias projections
      // preserve both properties row-locally.
      // the partition count comes from the session conf, so the layout
      // stays scale-adaptive (= cores locally, cluster-sized in prod)
      org.apache.spark.sql.GraftShim.localCheckpointHashLayout(
        Dedup.hashedShingleSets(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 8),
        "id", s.conf.get("spark.sql.shuffle.partitions").toInt)
    }

  /** Session-scoped cache of the ANNOTATED inverted shingle index over
    * [[sharedShingleSets]] ([[Dedup.shingleBuckets]] — (sh, members
    * with set sizes)): the ONE corpus-sized explode+aggregate the
    * pairwise family needs; q19, q151, q155 and q137's truth side each
    * previously re-ran it with their own doc filter, which is a
    * row-local member filter of THESE buckets (nsh rides in the
    * bucket, so cap-after-filter commutes). */
  private val bucketCache = SessionArtifact[DataFrame]("shingle_buckets")

  private[queries] def sharedShingleBuckets(s: SparkSession, dir: String): DataFrame =
    bucketCache(s, dir) {
      val sets = sharedShingleSets(s, dir)
      Dedup.shingleBuckets(sets).localCheckpoint(true)
    }

  /** Session-scoped cache of the verified n-gram Jaccard pairs at the
    * family's LOWEST gate (θ = 0.2, the q19 operator): the exact
    * verification is deterministic over the identical candidate set,
    * so any consumer at a HIGHER threshold (q137/q147's truth side at
    * θ = 0.5) is a row filter of this frame — J ≥ 0.5 pairs all clear
    * the θ = 0.2 size prefilter (J ≤ size ratio), so nothing a direct
    * θ = 0.5 run would emit is missing. Candidate-bounded rows. */
  private val jaccardPairsCache = SessionArtifact[DataFrame]("jaccard_pairs")

  private[queries] def sharedJaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsCache(s, dir) {
      val sets = sharedShingleSets(s, dir)
      val buckets = sharedShingleBuckets(s, dir)
      Dedup.ngramJaccardPairsFromBuckets(sets, buckets,
        threshold = 0.2, maxShingleDf = 20).localCheckpoint(true)
    }

  /** q16: per-document text statistics — token counts, average token
    * length, stopword ratio, punctuation ratio, composite quality score.
    * Pure codegen'd projection; scan-speed at any scale. */
  def q16TextStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id",
        tokenCount($"text").as("n_tokens"),
        stopwordCount($"text").as("n_stop"),
        avgTokenLen($"text").as("avg_token_len"),
        stopwordRatio($"text").as("stop_ratio"),
        punctRatio($"text").as("punct_ratio"),
        qualityScore($"text").as("quality"))
      .orderBy($"doc_id")
  }

  private val stopList = "('the','a','an','and','of','to','in','is','it','that')"

  val q16Sql: String =
    s"""SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN $stopList)) AS BIGINT) AS n_stop,
      |  CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'), t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
      |    / CAST(greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 1) AS DOUBLE) AS avg_token_len,
      |  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN $stopList)) AS DOUBLE)
      |    / CAST(greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 1) AS DOUBLE) AS stop_ratio,
      |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |    / CAST(greatest(CAST(length(text) AS BIGINT), 1) AS DOUBLE) AS punct_ratio,
      |  least(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN $stopList)) AS DOUBLE)
      |      / CAST(greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 1) AS DOUBLE) * 5.0, 1.0) * 0.4
      |  + least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) / 50.0, 1.0) * 0.4
      |  + greatest(1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |      / CAST(greatest(CAST(length(text) AS BIGINT), 1) AS DOUBLE) * 4.0, 0.0) * 0.2 AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q17: language-ID heuristic vs the labeled lang column. */
  def q17LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"lang".as("labeled_lang"),
        langId($"text").as("pred_lang"))
      .withColumn("agree", ($"labeled_lang" === $"pred_lang").cast("int"))
      .orderBy($"doc_id")
  }

  private def mk(lang: String, markers: Seq[String]): String =
    s"CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
      s"t -> t IN (${markers.map(m => s"'$m'").mkString(",")}))) AS BIGINT)"

  /** The q17 language-prediction CASE over a relation exposing `text`
    * — ONE definition shared by q17 and the tokenizer fertility report
    * (q149), so the heuristic cannot fork between its gates. */
  private[queries] def predLangCaseSql: String = {
    val en = mk("en", Seq("the", "and", "of", "is", "to"))
    val es = mk("es", Seq("el", "la", "de", "que", "y"))
    val de = mk("de", Seq("der", "die", "und", "das", "ist"))
    val fr = mk("fr", Seq("le", "les", "et", "des", "une"))
    val cjk = "CAST(length(text) - length(regexp_replace(text, '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS DOUBLE)" +
      " / CAST(greatest(length(text), 1) AS DOUBLE)"
    s"""CASE WHEN $cjk > 0.3 THEN 'zh'
      |       WHEN $en >= greatest($es, $de, $fr) AND $en > 0 THEN 'en'
      |       WHEN $es >= greatest($de, $fr) AND $es > 0 THEN 'es'
      |       WHEN $de >= $fr AND $de > 0 THEN 'de'
      |       WHEN $fr > 0 THEN 'fr'
      |       ELSE 'und' END""".stripMargin
  }

  val q17Sql: String =
    s"""SELECT doc_id, lang AS labeled_lang, pred_lang,
      |  CAST(lang = pred_lang AS INT) AS agree
      |FROM (SELECT doc_id, lang, text,
      |  $predLangCaseSql AS pred_lang
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** q18: exact dedup groups — md5 content hash, kept id, copy count.
    * The shuffle carries 16-byte digests, never the text. */
  def q18ExactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.exactDupGroups(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"keep_id")
  }

  val q18Sql: String =
    """SELECT md5(lower(trim(text))) AS content_hash,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** q19: n-gram Jaccard near-dup pairs via the inverted-shingle-index
    * operator (rare-shingle candidate pruning + exact verification). */
  def q19NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedJaccardPairs(s, dir)
      .orderBy($"id_a", $"id_b")
  }

  val q19Sql: String =
    """WITH docs AS (
      |  SELECT doc_id AS id, text,
      |    CASE WHEN length(text) >= 8 THEN
      |      list_distinct(list_transform(
      |        list_transform(generate_series(1, length(text)-7), i -> substr(text, i, 8)),
      |        s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |          (acc, x) -> (acc * 31 + x) % 1000000007)))
      |    ELSE CAST([] AS BIGINT[]) END AS sh_set
      |  FROM documents),
      |inv AS (SELECT id, unnest(sh_set) AS sh FROM docs),
      |rare AS (SELECT id, sh FROM
      |  (SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df FROM inv) t WHERE df <= 20),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM rare a JOIN rare b USING (sh) WHERE a.id < b.id),
      |pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_intersect(da.sh_set, db.sh_set)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(da.sh_set, db.sh_set))) AS DOUBLE) AS jaccard
      |  FROM cand JOIN docs da ON cand.id_a = da.id JOIN docs db ON cand.id_b = db.id)
      |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.2
      |ORDER BY id_a, id_b""".stripMargin

  /** q151: directed shingle-containment dedup — `src ⊆ dst` pairs at
    * containment ≥ 0.9 ([[Dedup.containmentPairs]]). The asymmetric
    * relation q19's symmetric Jaccard structurally cannot see: a short
    * document wholly quoted inside a long one has Jaccard ≈
    * |S_src|/|S_dst| (arbitrarily small) but containment 1.0 — the
    * quote/subset duplication class a curation pass actually wants.
    * (This corpus is cleanly bimodal: candidates sit at containment
    * ≈ 0 or exactly 1.0, so the 0.9 gate selects exactly the true
    * subset relationships.) All-integer verdicts and fixed-point ppm;
    * candidates from the same df-capped posting-list index as q19,
    * mirrored in the oracle. */
  /** The containment family's shared parameters (q151, q155 and their
    * oracle SQL literals): the min-shingle evidence floor and the
    * posting-list df cap. One definition so the in-bucket filters and
    * the set-side size filters cannot drift apart. */
  private val ContainMinShingles = 20
  private val ContainMaxDf = 20

  def q151Containment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.containmentPairsFromBuckets(sharedShingleSets(s, dir),
        sharedShingleBuckets(s, dir),
        thresholdBp = 9000, minShingles = ContainMinShingles,
        maxShingleDf = ContainMaxDf)
      .orderBy($"src_id", $"dst_id")
  }

  val q151Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id AS id,
      |    CASE WHEN length(text) >= 8 THEN
      |      list_distinct(list_transform(
      |        list_transform(generate_series(1, length(text)-7), i -> substr(text, i, 8)),
      |        s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |          (acc, x) -> (acc * 31 + x) % 1000000007)))
      |    ELSE CAST([] AS BIGINT[]) END AS sh_set
      |  FROM documents),
      |f AS (SELECT * FROM docs WHERE len(sh_set) >= $ContainMinShingles),
      |inv AS (SELECT id, unnest(sh_set) AS sh FROM f),
      |rare AS (SELECT id, sh FROM
      |  (SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df FROM inv) t WHERE df <= $ContainMaxDf),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM rare a JOIN rare b USING (sh) WHERE a.id < b.id),
      |p AS (SELECT id_a, id_b,
      |    CAST(len(list_intersect(da.sh_set, db.sh_set)) AS BIGINT) AS inter,
      |    CAST(len(da.sh_set) AS BIGINT) AS n_a, CAST(len(db.sh_set) AS BIGINT) AS n_b
      |  FROM cand JOIN f da ON cand.id_a = da.id JOIN f db ON cand.id_b = db.id),
      |u AS (SELECT id_a AS src_id, id_b AS dst_id, inter, n_a AS n_src, n_b AS n_dst FROM p
      |  UNION ALL
      |  SELECT id_b, id_a, inter, n_b, n_a FROM p)
      |SELECT src_id, dst_id, inter AS n_inter, n_src, n_dst,
      |  inter * 1000000 // n_src AS cont_ppm
      |FROM u WHERE inter * 10000 >= 9000 * n_src
      |ORDER BY src_id, dst_id""".stripMargin

  /** q155: directed containment PROBE against a static corpus — the
    * ingest-side shape of q151 ([[Dedup.containmentAgainstCorpus]]):
    * even doc_ids form the indexed corpus
    * ([[Dedup.containmentCorpusIndex]] — df-capped postings + full
    * sets, built once), odd doc_ids arrive as the fresh batch and
    * probe it. One row per (doc, corpus doc) candidate clearing 0.9
    * containment in EITHER direction, both fixed-point ppm ratios
    * shipped. The streaming twin
    * ([[graft.streaming.Streaming.containmentProbeStream]]) emits
    * bit-identical rows over the same documents (spec-pinned). */
  def q155ContainmentProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shingles = sharedShingleSets(s, dir)
    // candidates derived IN-BUCKET from the shared annotated index:
    // within each shingle's member list, the corpus side is the even
    // ids at ≥ 20 shingles (df cap counts exactly those — nsh and
    // parity filter row-locally, as building the index from the even
    // half would) and the fresh side the odd ids at ≥ 20 shingles;
    // their in-bucket cross product IS the posting-join candidate set,
    // with no per-query explode/shuffle of either half.
    val m = (pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =>
      filter($"members", mm =>
        mm.getField("nsh") >= ContainMinShingles && pred(mm.getField("id")))
    val cand = sharedShingleBuckets(s, dir)
      .select(m(id => id % 2 === 0).as("cm"), m(id => id % 2 === 1).as("fm"))
      .filter(size($"cm").between(1, ContainMaxDf) && size($"fm") >= 1)
      .select(explode(flatten(transform($"fm", f =>
        transform($"cm", c =>
          struct(f.getField("id").as("doc_id"), c.getField("id").as("corpus_id")))))).as("p"))
      .select($"p.doc_id", $"p.corpus_id").distinct()
    val sets = shingles.select($"id".as("corpus_id"), $"sh_set".as("set_c"))
      .filter($"corpus_id" % 2 === 0 && size($"set_c") >= ContainMinShingles)
    val docs = shingles.select($"id".as("doc_id"), $"sh_set")
      .filter($"doc_id" % 2 === 1 && size($"sh_set") >= ContainMinShingles)
    Dedup.containmentVerifyProbe(cand, docs, sets, thresholdBp = 9000)
      .orderBy($"doc_id", $"corpus_id")
  }

  val q155Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id AS id,
      |    CASE WHEN length(text) >= 8 THEN
      |      list_distinct(list_transform(
      |        list_transform(generate_series(1, length(text)-7), i -> substr(text, i, 8)),
      |        s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |          (acc, x) -> (acc * 31 + x) % 1000000007)))
      |    ELSE CAST([] AS BIGINT[]) END AS sh_set
      |  FROM documents),
      |corpus AS (SELECT id AS corpus_id, sh_set AS set_c FROM docs
      |  WHERE id % 2 = 0 AND len(sh_set) >= $ContainMinShingles),
      |fresh AS (SELECT id AS doc_id, sh_set FROM docs
      |  WHERE id % 2 = 1 AND len(sh_set) >= $ContainMinShingles),
      |inv AS (SELECT corpus_id, unnest(set_c) AS sh FROM corpus),
      |capped AS (SELECT corpus_id, sh FROM
      |  (SELECT corpus_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM inv) t
      |  WHERE df <= $ContainMaxDf),
      |cand AS (SELECT DISTINCT f.doc_id, c.corpus_id
      |  FROM (SELECT doc_id, unnest(sh_set) AS sh FROM fresh) f
      |  JOIN capped c USING (sh)),
      |p AS (SELECT doc_id, corpus_id,
      |    CAST(len(list_intersect(fd.sh_set, cs.set_c)) AS BIGINT) AS n_inter,
      |    CAST(len(fd.sh_set) AS BIGINT) AS n_doc,
      |    CAST(len(cs.set_c) AS BIGINT) AS n_corpus
      |  FROM cand JOIN fresh fd USING (doc_id) JOIN corpus cs USING (corpus_id))
      |SELECT doc_id, corpus_id, n_inter, n_doc, n_corpus,
      |  n_inter * 1000000 // n_doc AS doc_in_corpus_ppm,
      |  n_inter * 1000000 // n_corpus AS corpus_in_doc_ppm
      |FROM p WHERE n_inter * 10000 >= 9000 * least(n_doc, n_corpus)
      |ORDER BY doc_id, corpus_id""".stripMargin

  /** q156: block-level exact dedup — the CCNet/C4 paragraph-hash pass
    * at sub-document granularity: segment every document into
    * consecutive 20-word blocks, keep each distinct block's FIRST
    * corpus occurrence (min (doc_id, idx) — within-doc repeats drop
    * too), and reassemble the surviving text. The exact complement of
    * whole-doc dedup (q18) and span fingerprints (q124): repeated
    * boilerplate inside otherwise-unique documents is removed, not
    * just detected. Scale shape: blocks travel as 8-byte polyhashes
    * into ONE map-side-combined min-owner aggregation; the keep
    * verdict joins back by hash; reassembly is a per-doc sort of the
    * few surviving (idx, block) pairs. Nothing corpus-sized sorts
    * globally and the only strings shuffled are the blocks themselves
    * (bounded: ≤ ~150 chars each, once per block). */
  def q156BlockDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.blockDedup(Tables.load(s, dir, "documents"), "doc_id", "text",
        blockWords = 20)
      .orderBy($"doc_id")
  }


  val q156Sql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |blk AS (SELECT doc_id, unnest(generate_series(0, (len(t)-1)//20)) AS idx, t FROM toks),
      |b2 AS (SELECT doc_id, idx,
      |    array_to_string(t[(idx*20+1):(idx*20+20)], ' ') AS block FROM blk),
      |h AS (SELECT doc_id, idx, block,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(block)),
      |        i -> CAST(unicode(substr(block, i, 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS hh FROM b2),
      |k AS (SELECT doc_id, idx, block,
      |    CASE WHEN row_number() OVER (PARTITION BY hh ORDER BY doc_id, idx) = 1
      |         THEN 1 ELSE 0 END AS keep FROM h)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept,
      |  COALESCE(array_to_string(list_transform(list_sort(
      |    list({'idx': idx, 'block': block}) FILTER (WHERE keep = 1)),
      |    x -> x.block), ' '), '') AS clean_text,
      |  CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_removed
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q157: Gopher-style quality rule GATE (Rae et al. 2021 §A1.1) —
    * the hard-threshold decision layer over the continuous stats q16
    * reports: per document, five named pass/fail rules (word count in
    * [50, 100k]; mean word length in [3, 10]; symbol-to-word ratio
    * < 0.1; > 80% of words contain a letter; ≥ 2 distinct core
    * stopwords present — the q16 function-word list, standing in for
    * Gopher's English set on this synthetic vocabulary) and the
    * composite keep flag. All-integer
    * verdicts (mean word length in exact milli-chars, ratios as
    * cross-multiplied integer comparisons) so the gate replays
    * bit-identically in any engine. Row-local — one projection, no
    * shuffle, runs at scan speed over 100 TB. */
  def q157GopherGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.QualityGate.gopherGate(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id")
  }


  /** The q157 rule-gate CTE chain (toks → st → m → r → gate) — shared
    * verbatim by q157's output and q169's training labels, so the
    * teacher gate and its replay can never fork. Emits `toks`
    * (doc_id, t) and `gate` (doc_id, stats, rule flags, keep). */
  private[queries] val gateCtesSql: String =
    """toks AS (SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents),
      |st AS (SELECT doc_id,
      |    CAST(len(t) AS BIGINT) AS n_words,
      |    CAST(COALESCE(list_sum(list_transform(t, w -> length(w))), 0) AS BIGINT) AS sum_len,
      |    CAST(len(list_filter(t, w -> contains(w, '#') OR contains(w, '…'))) AS BIGINT) AS n_sym,
      |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
      |    CAST(len(list_filter(['the','a','an','and','of','to','in','is','it','that'],
      |      sw -> list_contains(t, sw))) AS BIGINT) AS n_stopset
      |  FROM toks),
      |m AS (SELECT *, CASE WHEN n_words > 0 THEN sum_len * 1000 // n_words END AS mwl_milli
      |  FROM st),
      |r AS (SELECT doc_id, n_words, n_sym, n_alpha, n_stopset, mwl_milli,
      |    CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_words,
      |    CASE WHEN n_words > 0 AND mwl_milli >= 3000 AND mwl_milli <= 10000
      |         THEN 1 ELSE 0 END AS r_mwl,
      |    CASE WHEN n_sym * 10 < n_words THEN 1 ELSE 0 END AS r_sym,
      |    CASE WHEN n_alpha * 10 > n_words * 8 THEN 1 ELSE 0 END AS r_alpha,
      |    CASE WHEN n_stopset >= 2 THEN 1 ELSE 0 END AS r_stop
      |  FROM m),
      |gate AS (SELECT doc_id, n_words, n_sym, n_alpha, n_stopset, mwl_milli,
      |  r_words, r_mwl, r_sym, r_alpha, r_stop,
      |  CASE WHEN r_words + r_mwl + r_sym + r_alpha + r_stop = 5
      |       THEN 1 ELSE 0 END AS keep
      |FROM r)""".stripMargin

  val q157Sql: String =
    s"""WITH $gateCtesSql
      |SELECT * FROM gate ORDER BY doc_id""".stripMargin

  /** q169: distilled Naive-Bayes quality classifier
    * ([[graft.ext.NbClassifier]]) — the CCNet/DCLM move of training a
    * cheap linear classifier on a labeled proxy and scoring everything
    * with it: the q157 rule gate is the TEACHER (its keep verdicts on
    * the standing slice, doc_id % 10 ≠ 0, are the training labels) and
    * multinomial NB with add-one smoothing on integer bit-length logs
    * is the student, scoring the ARRIVAL slice (doc_id % 10 = 0) the
    * teacher never trained on. Output per arrival: token count, the
    * integer score, the NB verdict, the rule gate's own verdict on the
    * same doc, and their agreement — the generalization report a
    * pipeline operator reads before swapping the classifier in front
    * of the rule gate. All integers (bitlen = length(bin(x)), the q86
    * discipline), so DuckDB replays training AND scoring bit-exactly. */
  /** Session-scoped cache of the PERSISTED NB quality model: trained
    * once per (session, dir) on the standing slice with the Gopher
    * gate as teacher (exactly q169's recipe), written to parquet
    * (`weights/` vocab-sized, `globals/` one row — the COMPLETE
    * serving artifact), and handed back as LAZY scans, so scoring
    * against the result reads storage and touches no training code.
    * The model-registry half of the q169 train/serve split — the
    * [[graft.ext.VectorIndexStore]] / q173 discipline applied to the
    * quality classifier. */
  private val nbModelCache = SessionArtifact[(DataFrame, DataFrame)]("nb_model")

  /** THE q169 training recipe — Gopher rule gate as teacher, standing
    * slice (doc_id % 10 ≠ 0) as training data — stated once, so the
    * in-process classifier (q169) and the persisted registry model
    * (q174 and the q188 ensemble's learned member) can never train on
    * different labels or slices. Returns (weights, globals). */
  private def nbTeacherTrain(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val gate = graft.ext.QualityGate.gopherGate(docs, "doc_id", "text")
      .select($"doc_id", $"keep")
    graft.ext.NbClassifier.trainWeights(
      docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text",
      gate.filter($"doc_id" % 10 =!= 0))
  }

  private[queries] def sharedPersistedNbModel(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    nbModelCache(s, dir) {
      val (w, g) = nbTeacherTrain(s, dir)
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val fp = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 10 =!= 0) // the teacher's training slice
        .agg(expr("bit_xor(doc_id)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "nb_model", fp,
        Seq("weights" -> w, "globals" -> g))
      (reg.read(s, root, "nb_model", v, "weights"),
        reg.read(s, root, "nb_model", v, "globals"))
    }

  /** q174: NB scoring against the LOADED model — q169's exact
    * semantics, but the weight table and globals arrive from parquet
    * storage (the [[sharedPersistedNbModel]] registry) instead of
    * being trained in-plan: the serving deployment shape, where the
    * classifier is a published artifact and scoring a new batch pays
    * one left join + one roll-up. Shares q169's oracle (which retrains
    * from raw tables in SQL), so the green hash certifies the model's
    * storage round trip bit-lossless — the q173 discipline applied to
    * the quality classifier. */
  def q174PersistedNbScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val gate = graft.ext.QualityGate.gopherGate(docs, "doc_id", "text")
      .select($"doc_id", $"keep")
    val (w, g) = sharedPersistedNbModel(s, dir)
    graft.ext.NbClassifier.score(docs.filter($"doc_id" % 10 === 0),
        "doc_id", "text", w, g)
      .withColumnRenamed("id", "doc_id")
      .join(gate.withColumnRenamed("keep", "rule_keep"), "doc_id")
      .withColumn("agree", ($"nb_keep" === $"rule_keep").cast("int"))
      .select($"doc_id", $"n_tokens", $"score_bits", $"nb_keep",
        $"rule_keep", $"agree")
      .orderBy($"doc_id")
  }

  def q169NbQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val gate = graft.ext.QualityGate.gopherGate(docs, "doc_id", "text")
      .select($"doc_id", $"keep")
    val (w, g) = nbTeacherTrain(s, dir)
    graft.ext.NbClassifier.score(docs.filter($"doc_id" % 10 === 0),
        "doc_id", "text", w, g)
      .withColumnRenamed("id", "doc_id")
      .join(gate.withColumnRenamed("keep", "rule_keep"), "doc_id")
      .withColumn("agree", ($"nb_keep" === $"rule_keep").cast("int"))
      .select($"doc_id", $"n_tokens", $"score_bits", $"nb_keep",
        $"rule_keep", $"agree")
      .orderBy($"doc_id")
  }

  /** The q169 NB-training CTE chain (lab → … → pri over `toks`/`gate`)
    * — shared verbatim by q169/q174's oracle and q188's ensemble
    * oracle, so the replayed classifier can never fork from the one
    * the ensemble consumes. Trains on the standing slice
    * (doc_id % 10 ≠ 0); emits `w` (tok, w_bits) and `pri`
    * (d_bits, prior_bits). */
  private[queries] val nbTrainCtesSql: String =
    """lab AS (SELECT doc_id, keep FROM gate WHERE doc_id % 10 <> 0),
      |occ AS (SELECT doc_id, unnest(t) AS tok FROM toks WHERE doc_id % 10 <> 0),
      |jt AS (SELECT o.tok, l.keep FROM occ o JOIN lab l USING (doc_id)),
      |tc AS (SELECT tok, CAST(SUM(keep) AS BIGINT) AS c1,
      |    CAST(SUM(1 - keep) AS BIGINT) AS c0 FROM jt GROUP BY tok),
      |w AS (SELECT tok, CAST(length(bin(c1 + 1)) AS BIGINT)
      |    - CAST(length(bin(c0 + 1)) AS BIGINT) AS w_bits FROM tc),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c0) AS BIGINT) AS n0,
      |    CAST(COUNT(*) AS BIGINT) AS v FROM tc),
      |dc AS (SELECT CAST(SUM(keep) AS BIGINT) AS nd1,
      |    CAST(SUM(1 - keep) AS BIGINT) AS nd0 FROM lab),
      |pri AS (SELECT CAST(length(bin(n0 + v)) AS BIGINT)
      |    - CAST(length(bin(n1 + v)) AS BIGINT) AS d_bits,
      |  CAST(length(bin(nd1)) AS BIGINT)
      |    - CAST(length(bin(nd0)) AS BIGINT) AS prior_bits FROM tot, dc)""".stripMargin

  val q169Sql: String =
    s"""WITH $gateCtesSql,
      |$nbTrainCtesSql,
      |arr AS (SELECT doc_id, t FROM toks WHERE doc_id % 10 = 0),
      |aocc AS (SELECT doc_id, unnest(t) AS tok FROM arr),
      |ws AS (SELECT a.doc_id, CAST(SUM(COALESCE(w.w_bits, 0)) AS BIGINT) AS w_sum
      |  FROM aocc a LEFT JOIN w USING (tok) GROUP BY a.doc_id),
      |sc AS (SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tokens,
      |    CAST(p.prior_bits + len(b.t) * p.d_bits + COALESCE(s.w_sum, 0) AS BIGINT)
      |      AS score_bits
      |  FROM arr b LEFT JOIN ws s USING (doc_id), pri p)
      |SELECT s.doc_id, s.n_tokens, s.score_bits,
      |  CASE WHEN s.score_bits > 0 THEN 1 ELSE 0 END AS nb_keep,
      |  g.keep AS rule_keep,
      |  CASE WHEN (CASE WHEN s.score_bits > 0 THEN 1 ELSE 0 END) = g.keep
      |       THEN 1 ELSE 0 END AS agree
      |FROM sc s JOIN gate g USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q159: incremental block dedup — q156's ingest form
    * ([[Dedup.blockDedupAgainstCorpus]]): even doc_ids form the known
    * corpus (its distinct block hashes, ~8 bytes per block —
    * [[Dedup.blockHashes]]), odd doc_ids arrive fresh and drop every
    * block already known PLUS within-doc repeats (first occurrence
    * wins, decided row-locally). No cross-fresh-doc coupling, so each
    * document's verdict is reproducible one doc at a time — which is
    * what lets the streaming twin
    * ([[graft.streaming.Streaming.blockDedupStream]]) emit
    * bit-identical rows (spec-pinned). */
  def q159BlockDedupIncr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    Dedup.blockDedupAgainstCorpus(
        docs.filter($"doc_id" % 2 === 1), "doc_id", "text",
        Dedup.blockHashes(docs.filter($"doc_id" % 2 === 0), "text"),
        blockWords = 20)
      .orderBy($"doc_id")
  }

  val q159Sql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents WHERE trim(text) <> ''),
      |cb AS (SELECT DISTINCT array_to_string(t[(i*20+1):(i*20+20)], ' ') AS block
      |  FROM (SELECT t, unnest(generate_series(0, (len(t)-1)//20)) AS i
      |        FROM toks WHERE doc_id % 2 = 0) s),
      |kh AS (SELECT DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(block)),
      |      i -> CAST(unicode(substr(block, i, 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM cb),
      |f AS (SELECT doc_id, list_transform(generate_series(0, (len(t)-1)//20),
      |    i -> array_to_string(t[(i*20+1):(i*20+20)], ' ')) AS bs
      |  FROM toks WHERE doc_id % 2 = 1),
      |fb AS (SELECT doc_id, unnest(generate_series(1, len(bs))) AS pos, bs FROM f),
      |fb2 AS (SELECT doc_id, pos - 1 AS idx, bs[pos] AS block,
      |    list_position(bs, bs[pos]) = pos AS first_in_doc FROM fb),
      |h2 AS (SELECT doc_id, idx, block, first_in_doc,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(block)),
      |        i -> CAST(unicode(substr(block, i, 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM fb2),
      |j AS (SELECT h2.*, CASE WHEN kh.h IS NOT NULL THEN 1 END AS known
      |  FROM h2 LEFT JOIN kh ON h2.h = kh.h),
      |k AS (SELECT doc_id, idx, block, known,
      |    CASE WHEN first_in_doc AND known IS NULL THEN 1 ELSE 0 END AS keep FROM j)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept,
      |  CAST(COUNT(known) AS BIGINT) AS n_known,
      |  COALESCE(array_to_string(list_transform(list_sort(
      |    list({'idx': idx, 'block': block}) FILTER (WHERE keep = 1)),
      |    x -> x.block), ' '), '') AS clean_text,
      |  CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_removed
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q163: TF-IDF keyword extraction — each document's top-3 terms by
    * tf × inverse-document-frequency, the tagging/summarization
    * primitive beside BM25's query-side ranking (q118). The rarity
    * factor is LOG-FREE — (N·10⁶) div df, monotone in 1/df and exact
    * integer, so the ranking replays bit-identically in any engine
    * (a float log would differ in the last ulp and break the hash
    * gate); ties break on the token string. Scale shape: one token
    * explode feeds the (doc, token) tf agg; df rolls up FROM tf (one
    * row per distinct pair — never re-scans the corpus); the per-doc
    * top-3 is the bounded-state [[graft.functions.TopKFunctions.ranked]]
    * (k rows per partition per doc, map-side combined), not a
    * corpus-wide rank window. */
  /** The per-(doc, token) term frequencies the TF-IDF family builds
    * on — one token explode, one map-side-combined agg. */
  private def tfidfTf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", explode(tokens($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
  }

  /** The static TF-IDF rarity table (token, df, rarity) — rarity =
    * (N·10⁶) div df, the log-free integer inverse-document-frequency
    * q163 ranks with. Vocabulary-sized; trained OFFLINE from a
    * reference corpus and joined onto serving paths (the streaming
    * twin [[graft.streaming.Streaming.tfidfKeywordStream]]). */
  def tfidfRarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = tfidfTf(s, dir)
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val n = tf.select($"doc_id").distinct().agg(count(lit(1)).as("n"))
    df.crossJoin(broadcast(n))
      .select($"token", $"df", expr("(n * 1000000L) DIV df").as("rarity"))
  }

  def q163TfidfKeywords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = tfidfTf(s, dir)
    val scored = tf.join(tfidfRarity(s, dir), "token")
      .withColumn("score", $"tf" * $"rarity")
    tfidfTop3(scored).orderBy($"doc_id", $"rank")
  }

  /** q163's ranking tail over scored (doc_id, token, tf, df, score)
    * rows: each document's top-3 by score DESC, token ASC through the
    * bounded-state [[graft.functions.TopKFunctions.ranked]], as
    * (doc_id, rank, token, tf, df, score). `keys` are pass-through
    * columns ranked apart, in front of doc_id — the streaming twin
    * ([[graft.streaming.Streaming.tfidfKeywordStream]]) passes its
    * event-time window. */
  private[graft] def tfidfTop3(scored: DataFrame, keys: Seq[String] = Nil): DataFrame =
    graft.functions.TopKFunctions.ranked(
        scored.select((keys ++ Seq("doc_id", "token", "tf", "df", "score")).map(col): _*),
        keys :+ "doc_id", Seq(col("score").desc, col("token")), 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), col("score"))

  val q163Sql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents WHERE trim(text) <> ''),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
      |sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |    tf.tf * ((n.n * 1000000) // df.df) AS score
      |  FROM tf JOIN df USING (token) CROSS JOIN n),
      |r AS (SELECT *, ROW_NUMBER() OVER
      |    (PARTITION BY doc_id ORDER BY score DESC, token) AS rank FROM sc)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |  CAST(score AS BIGINT) AS score
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** q139: n-gram novelty scoring — per document, the fraction of its
    * distinct 8-gram hashes whose FIRST corpus occurrence (min doc_id)
    * is this document: 1.0 for genuinely new text, ~0 for documents
    * assembled from already-seen spans. The dedup-aware quality signal
    * between whole-doc digests (q18) and span dedup (q124): content
    * can be unseen as a document yet contribute nothing novel. Ratio
    * ships as integer ppm. Scale shape: one shingle-keyed min-agg
    * (map-side combined) owns the "first occurrence" decision; the
    * per-doc rollup joins hashes, never text. */
  def q139Novelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.load(s, dir, "documents")
      .filter(length($"text") >= 8)
      .select($"doc_id",
        explode(graft.functions.VectorFunctions.hashedShingles(
          $"text", 8, graft.ext.Dedup.ShingleHashMod)).as("sh"))
      .localCheckpoint(true) // feeds the first-owner agg AND the rollup
    val firstOwner = sh.groupBy($"sh").agg(min($"doc_id").as("first_doc"))
    sh.join(firstOwner, "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when($"first_doc" === $"doc_id", 1)).as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        expr("n_novel * 1000000L DIV n_shingles").as("novelty_ppm"))
      .orderBy($"doc_id")
  }

  val q139Sql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_transform(generate_series(1, length(text)-7), i -> substr(text, i, 8)),
      |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 1000000007))) AS sh_set
      |  FROM documents WHERE length(text) >= 8),
      |sh AS (SELECT doc_id, unnest(sh_set) AS sh FROM docs),
      |fo AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
      |SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |  CAST(COUNT(CASE WHEN fo.first_doc = sh.doc_id THEN 1 END) AS BIGINT) AS n_novel,
      |  CAST(COUNT(CASE WHEN fo.first_doc = sh.doc_id THEN 1 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS novelty_ppm
      |FROM sh JOIN fo USING (sh) GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  /** q37: PII redaction. The corpus has no real PII, so deterministic
    * synthetic contact blocks are injected into every 10th doc in BOTH
    * engines, then scrubbed — redaction is verified against text that
    * actually contains emails/IPs/phones. */
  def q37Redact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val injected = Tables.load(s, dir, "documents")
      .withColumn("dirty", concat($"text",
        when($"doc_id" % 10 === 0,
          concat(lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com ip 10.0.0."), ($"doc_id" % 255).cast("string"),
            lit(" tel +1 (555) 123-4567 end")))
          .otherwise(lit(""))))
    injected.select($"doc_id",
        redactPii($"dirty").as("clean"),
        ($"dirty" =!= redactPii($"dirty")).cast("int").as("was_redacted"))
      .orderBy($"doc_id")
  }

  val q37Sql: String =
    """WITH injected AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 10 = 0 THEN
      |      ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.0.' ||
      |      CAST(doc_id % 255 AS VARCHAR) || ' tel +1 (555) 123-4567 end'
      |    ELSE '' END AS dirty
      |  FROM documents),
      |red AS (SELECT doc_id, dirty,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
      |    '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g') AS clean
      |  FROM injected)
      |SELECT doc_id, clean, CAST(dirty != clean AS INT) AS was_redacted
      |FROM red ORDER BY doc_id""".stripMargin

  /** q43: corpus vocabulary — tokenize (split+explode, SURVEY §2.7),
    * global term counts, deterministic top-100. The shuffle carries
    * (token, partial count): map-side combine collapses each partition
    * to its distinct tokens before the exchange. */
  def q43TopTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(explode(tokens(lower($"text"))).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(100)
  }

  val q43Sql: String =
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |      FROM documents) t
      |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  /** q44: document-length histogram (50-char buckets) — the profiling
    * pass that decides min/max-length gates for a cleanup run. */
  def q44LengthHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .withColumn("bucket", (length($"text").cast("long") / 50L).cast("long") * 50L)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(length($"text").cast("long")).as("min_len"),
        max(length($"text").cast("long")).as("max_len"))
      .orderBy($"bucket")
  }

  val q44Sql: String =
    """SELECT CAST(length(text) // 50 * 50 AS BIGINT) AS bucket,
      |  COUNT(*) AS n_docs,
      |  CAST(min(length(text)) AS BIGINT) AS min_len,
      |  CAST(max(length(text)) AS BIGINT) AS max_len
      |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q104: bigram collocation mining — adjacent token pairs scored by
    * exact PMI lift. For each bigram (t1, t2): occurrence count n_ab,
    * unigram counts n_a/n_b, and the lift ratio kept as EXACT integers
    * (lift_num = n_ab·N, lift_den = n_a·n_b; PMI = log2 of their
    * quotient — the log stays out of the gated surface, q96's TVD
    * recipe). The collocation detector behind phrase vocabularies
    * ("new york" → one token) in corpus preprocessing.
    *
    * Scale shape: bigram extraction is LINEAR (adjacent pairs only —
    * no per-doc token self-join); both aggregations shuffle (gram,
    * partial count) with map-side combine; the unigram table is
    * vocabulary-sized, checkpointed once, and feeds the totals scalar
    * plus both count joins. */
  def q104Collocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.load(s, dir, "documents")
      .select(tokens(lower($"text")).as("ts"))
      .filter(size($"ts") > 0)
    // vocabulary-sized; feeds the scalar total AND two count joins —
    // checkpoint so the corpus-wide unigram agg runs once
    val uni = toks.select(explode($"ts").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val total = uni.agg(sum($"c").as("n_tok"))
    val bigrams = toks.filter(size($"ts") >= 2)
      .select(explode(transform(sequence(lit(0), size($"ts") - 2),
        i => struct(element_at($"ts", i + 1).as("t1"),
          element_at($"ts", i + 2).as("t2")))).as("g"))
      .select($"g.t1", $"g.t2")
      .groupBy($"t1", $"t2").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 2)
    bigrams
      .join(uni.select($"t".as("t1"), $"c".as("n_a")), "t1")
      .join(uni.select($"t".as("t2"), $"c".as("n_b")), "t2")
      .crossJoin(broadcast(total))
      .select($"t1", $"t2", $"n_ab", $"n_a", $"n_b",
        ($"n_ab" * $"n_tok").as("lift_num"), ($"n_a" * $"n_b").as("lift_den"))
      .orderBy($"n_ab".desc, $"t1", $"t2")
      .limit(200)
  }

  val q104Sql: String =
    """WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS ts
      |  FROM documents WHERE trim(text) <> ''),
      |uc AS (SELECT t, COUNT(*) AS c FROM
      |  (SELECT unnest(ts) AS t FROM toks) u GROUP BY t),
      |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc),
      |bi AS (SELECT ts[g] AS t1, ts[g + 1] AS t2 FROM
      |  (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS g FROM toks) z),
      |bc AS (SELECT t1, t2, COUNT(*) AS n_ab FROM bi GROUP BY t1, t2
      |  HAVING COUNT(*) >= 2)
      |SELECT t1, t2, n_ab, a.c AS n_a, b.c AS n_b,
      |  n_ab * n.n_tok AS lift_num, a.c * b.c AS lift_den
      |FROM bc JOIN uc a ON bc.t1 = a.t JOIN uc b ON bc.t2 = b.t CROSS JOIN n
      |ORDER BY n_ab DESC, t1, t2 LIMIT 200""".stripMargin

  /** q116: EXACT set-similarity self-join via prefix filtering (the
    * ppjoin family) — the deterministic complement of MinHash (q20):
    * J(x,y) ≥ τ ⇒ |x∩y| ≥ τ·max(|x|,|y|) ≥ ⌈τ|x|⌉, so if x keeps only
    * its (|x| − ⌈τ|x|⌉ + 1) globally-RAREST tokens as keys, any
    * qualifying y must collide with one of them (pigeonhole) —
    * candidates meet in an equi-join on rare tokens, never an
    * all-pairs, and exact integer Jaccard (|∩|·10 ≥ 9·|∪|) verifies.
    * The rare-first order is per-document (sort by (df, token) inside
    * the doc's token list) — no global rank, no single-partition
    * window. The oracle is the quadratic brute force, so the hash
    * match proves the prefix filter is COMPLETE.
    *
    * The run is LANGUAGE-BLOCKED (de slice) — the natural partitioning
    * for near-dup mining (cross-language near-dups are meaningless),
    * and a necessary one on THIS corpus: its synthetic 31-token
    * vocabulary makes ~8% of ALL document pairs ≥0.9-similar, so an
    * unblocked run's output is quadratic in corpus size no matter how
    * good the candidate filter is. On a real corpus (large vocabulary,
    * rare tokens actually rare) the same code runs unblocked.
    *
    * Measured (10× verbatim-clone scale-stress, SCALESTRESS_r15):
    * exponent 1.32 — super-linear and INHERENT, the q21 adjudication:
    * the contract is exact (the brute-force oracle proves the prefix
    * filter complete), clones are true J=1.0 pairs, so the OUTPUT
    * grows quadratically in clone count; sub-2.0 is the prefix filter
    * earning its keep per output row. The 100 TB posture is the q34
    * stage order — exact-dedup clones upstream (which removes exactly
    * the pairs that blow this up), then prefix-join the survivors. */
  /** The ppjoin core shared by q116 (raw corpus) and q204 (exact-dedup
    * survivors): `sets` is (doc_id, ts) with ts a sorted distinct
    * token array; returns exact J ≥ 0.9 pairs (da, db, inter, un).
    * Caller localCheckpoints `sets` — it feeds df counts, prefixes,
    * and the verify join. */
  private[queries] def prefixJoinPairs(sets: DataFrame): DataFrame = {
    import sets.sparkSession.implicits._
    val dfreq = sets.select(explode($"ts").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("df"))
    val prefix = sets.select($"doc_id", size($"ts").as("n"), explode($"ts").as("t"))
      .join(dfreq, "t")
      .groupBy($"doc_id", $"n")
      .agg(array_sort(collect_list(struct($"df", $"t"))).as("ordered"))
      .select($"doc_id", $"n", explode(slice($"ordered", lit(1),
        expr("n - ((9*n + 9) DIV 10) + 1"))).as("p"))
      .select($"doc_id", $"n", $"p.t".as("k"))
    // ppjoin length filter: J ≥ 0.9 ⇒ |x∩y| ≥ 0.9·max ≤ min, so set
    // sizes must agree within 10% — prunes same-key candidates before
    // the (comparatively expensive) exact-intersection verify
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 9 <= col("b.n") * 10 && col("b.n") * 9 <= col("a.n") * 10)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    cand
      .join(sets.select($"doc_id".as("da"), $"ts".as("tsa")), "da")
      .join(sets.select($"doc_id".as("db"), $"ts".as("tsb")), "db")
      .withColumn("inter", size(array_intersect($"tsa", $"tsb")).cast("long"))
      .withColumn("un", (size($"tsa") + size($"tsb")).cast("long") - $"inter")
      .filter($"inter" * 10 >= $"un" * 9)
      .select($"da", $"db", $"inter", $"un")
  }

  /** Session-scoped cache of the prefix-join family's tokenized de
    * slice — (doc_id, h, ts) with `h` the exact-dedup content hash and
    * `ts` the sorted distinct token set: the shared upstream of q116
    * (raw slice) and q204 (dedup-first slice). Tokenizing re-scans
    * every document's text — the dominant upstream cost each twin paid
    * separately — and carrying `h` lets the dedup-first consumer
    * derive its clone groups (min doc_id + n_copies per content) from
    * the artifact without a second text scan. Same lifecycle as
    * [[sharedShingleSets]]. */
  private val deTokenCache = SessionArtifact[DataFrame]("de_token")

  private[queries] def sharedDeTokenSets(s: SparkSession, dir: String): DataFrame =
    deTokenCache(s, dir) {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .filter($"lang" === "de")
        .select($"doc_id", contentHash($"text").as("h"),
          array_sort(array_distinct(tokens(lower($"text")))).as("ts"))
        .localCheckpoint(true)
    }

  /** Session-scoped cache of the VERIFIED prefix-join pairs over the
    * raw de slice (q116's exact relation before its final sort) — the
    * [[sharedJaccardPairs]] discipline applied to the ppjoin family:
    * ONE kernel pass at the family's WIDEST corpus serves every
    * consumer. q116 reads it whole; q204's dedup-first relation is the
    * row filter to rep endpoints, because the verified output is EXACT
    * (integer |∩|·10 ≥ 9·|∪| over identical token sets — clones
    * tokenize identically, so a rep's ts is its whole group's ts) and
    * reps ⊆ slice: restricting an exact all-pairs relation to a
    * sub-corpus equals running it on the sub-corpus. Candidate
    * GENERATION differs between the two corpora (df ranks shift under
    * dedup), but candidates only ever over-approximate — the prefix
    * filter is complete by the pigeonhole argument at [[q116PrefixJoin]]
    * for ANY per-doc key order — so the verified relation is
    * corpus-restriction compatible. Output is pair-bounded (the
    * blocked slice keeps it linear; see the q116 scaladoc). */
  private val prefixPairsCache = SessionArtifact[DataFrame]("prefix_pairs")

  private[queries] def sharedPrefixPairs(s: SparkSession, dir: String): DataFrame =
    prefixPairsCache(s, dir) {
      val toks = sharedDeTokenSets(s, dir)
      import s.implicits._
      prefixJoinPairs(toks.select($"doc_id", $"ts").filter(size($"ts") > 0))
        .localCheckpoint(true)
    }

  def q116PrefixJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedPrefixPairs(s, dir)
      .orderBy($"da", $"db")
  }

  val q116Sql: String =
    """WITH s AS (SELECT doc_id,
      |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS ts
      |  FROM documents WHERE trim(text) <> '' AND lang = 'de'),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |  len(list_intersect(a.ts, b.ts)) AS inter,
      |  len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS un
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
      |SELECT da, db, CAST(inter AS BIGINT) AS inter, CAST(un AS BIGINT) AS un
      |FROM p WHERE inter*10 >= 9*un ORDER BY da, db""".stripMargin

  /** q204: the DEDUP-FIRST posture for the exact set-similarity join —
    * q116's 100 TB stage order (q203's discipline applied to the
    * ppjoin): exact-dedup the de slice upstream (one digest shuffle;
    * verbatim clones are true J=1.0 pairs, exactly the output that
    * made q116 clone-quadratic — measured exponent 1.32), then
    * prefix-join only the SURVIVORS. Each rep-level pair carries its
    * clone-group sizes and `implied_pairs` = n_a·n_b (all at the same
    * (inter, un) since clones tokenize identically); within-group
    * J=1.0 pairs are C(n_copies, 2) per group, q18's output — so the
    * full q116 relation stays exactly reconstructible while the
    * materialized output is linear in distinct contents. The oracle
    * replays dedup → brute-force Jaccard over reps → size joins.
    * Measured at 100× clone density (SCALESTRESS): sub-linear, vs
    * 1.32 for the undeduped exact join. */
  def q204DedupFirstPrefixJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // clone groups from the shared artifact's content hash: min doc_id
    // is the rep ([[graft.ext.Dedup.exactDedupWithCounts]]'s survivor),
    // n_copies the group size — no second text scan, no text window
    val reps = sharedDeTokenSets(s, dir)
      .groupBy($"h")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    // the dedup-first pair relation = the raw-slice verified pairs
    // restricted to rep endpoints ([[sharedPrefixPairs]]: exact
    // verification commutes with corpus restriction); the inner joins
    // below ARE that restriction, fetching n_copies in the same step
    sharedPrefixPairs(s, dir)
      .join(reps.select($"doc_id".as("da"), $"n_copies".as("n_a")), "da")
      .join(reps.select($"doc_id".as("db"), $"n_copies".as("n_b")), "db")
      .select($"da", $"db", $"inter", $"un", $"n_a", $"n_b",
        ($"n_a" * $"n_b").as("implied_pairs"))
      .orderBy($"da", $"db")
  }

  val q204Sql: String =
    """WITH g AS (SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keep_id,
      |    CAST(count(*) AS BIGINT) AS n_copies
      |  FROM documents WHERE lang = 'de' GROUP BY 1),
      |reps AS (SELECT d.doc_id, d.text, g.n_copies
      |  FROM documents d JOIN g ON d.doc_id = g.keep_id),
      |s AS (SELECT doc_id,
      |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS ts, n_copies
      |  FROM reps WHERE trim(text) <> ''),
      |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |  len(list_intersect(a.ts, b.ts)) AS inter,
      |  len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS un,
      |  a.n_copies AS n_a, b.n_copies AS n_b
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
      |SELECT da, db, CAST(inter AS BIGINT) AS inter, CAST(un AS BIGINT) AS un,
      |  n_a, n_b, CAST(n_a * n_b AS BIGINT) AS implied_pairs
      |FROM p WHERE inter*10 >= 9*un ORDER BY da, db""".stripMargin

  /** Number of BPE merges q143 trains (the vocabulary budget). */
  val BpeMerges = 24

  /** q143: BPE tokenizer-vocabulary training ([[graft.ext.BpeTrain]],
    * Sennrich et al.) — [[BpeMerges]] rounds of merge-the-most-frequent
    * adjacent symbol pair over the corpus word dictionary, from
    * per-character symbols. The output merge table (rank, lhs, rhs,
    * merged, pair_freq) is the artifact a BPE tokenizer executes — the
    * tokenizer-TRAINING step beside the engine's token counting (q16)
    * and retrieval stacks. Exact integer pair counts, (cnt DESC, lhs,
    * rhs) tie-break, left-to-right non-overlapping merges — the oracle
    * replays all rounds unconditionally, valid because the engine
    * THROWS (rather than truncates) when the corpus can't support the
    * requested merges at frequency ≥ 2. Rounds run over the
    * vocabulary-sized word dictionary in the k-means loop shape, with
    * [[graft.ext.BpeTrain.trainBatched]]'s provably-safe prefix
    * batching: one TakeOrdered collects the top pairs and one rewrite
    * applies every symbol-disjoint merge whose count strictly clears
    * the first excluded pair — bit-identical to the one-merge loop
    * with several merges per job. */
  def q143BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedBpeTrainedAll(s, dir).merges.orderBy($"merge_rank")
  }

  /** The tokenizer trained on the FULL corpus, once per (session, dir)
    * — q143 (the merge table), q145 (whole-corpus tokenization) and
    * q149 (fertility cross-tab) all train the IDENTICAL
    * `trainBatched(wordDict(documents), BpeMerges)` model; before this
    * cache each of the three re-ran the 24-merge training loop
    * (~2.5 s of Spark rounds) per execution. The trained frames are
    * driver-bounded (vocabulary-sized merge/dict tables), so the cache
    * holds artifacts, not corpus-sized plans. Distinct from
    * [[sharedPersistedBpe]], which trains the FROZEN standing-slice
    * tokenizer the registry serves. */
  private val bpeTrainAllCache = SessionArtifact[graft.ext.BpeTrain.Trained]("bpe_train_all")

  private def sharedBpeTrainedAll(s: SparkSession, dir: String)
      : graft.ext.BpeTrain.Trained =
    bpeTrainAllCache(s, dir) {
      graft.ext.BpeTrain.trainBatched(
        graft.ext.BpeTrain.wordDict(Tables.load(s, dir, "documents"), "text"),
        BpeMerges)
    }

  /** Shared DuckDB BPE training chain for q143/q145: doc-level valid
    * tokens `toks(doc_id, word)`, the word dictionary, and
    * [[BpeMerges]] unrolled merge rounds — `m$i` (round i's chosen
    * pair) and `w$i(word, sym, freq)` (the dictionary after i merges).
    * Like regChainSql, the two oracles must replay the SAME training. */
  /** The tokenize → word-dictionary prefix of the BPE chain —
    * `${p}toks(doc_id, word)` and `${p}wd(word, freq)` — factored out
    * so the q197 registry audit can count the trained dictionary's
    * cardinality from the SAME token recipe the training oracle
    * replays, without unrolling the merge rounds. */
  private[queries] def bpeWordDictSqlFrom(docsRel: String, p: String = ""): String =
    s"""${p}toks AS (SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      |    FROM $docsRel) t
      |  WHERE regexp_matches(word, '^[a-z0-9]+$$')),
      |${p}wd AS (SELECT word, COUNT(*) AS freq FROM ${p}toks GROUP BY word)""".stripMargin

  private[queries] def bpeChainSqlFrom(docsRel: String): String = {
    val rounds = (1 to BpeMerges).map { i =>
      s"""p$i AS (SELECT replace(s[j], ';', '') AS a, replace(s[j + 1], ';', '') AS b, freq FROM
        |    (SELECT string_split(sym, ' ') AS s, freq FROM w${i - 1}) t
        |    CROSS JOIN UNNEST(generate_series(2, len(s) - 1)) AS u(j)),
        |c$i AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM p$i GROUP BY a, b),
        |m$i AS MATERIALIZED (SELECT a, b, a || b AS ab, cnt FROM c$i
        |  ORDER BY cnt DESC, a, b LIMIT 1),
        |w$i AS MATERIALIZED (SELECT word,
        |    replace(sym, ' ' || m.a || '; ' || m.b || ';', ' ' || m.a || m.b || ';') AS sym, freq
        |  FROM w${i - 1}, m$i m)""".stripMargin
    }.mkString(",\n")
    s"""${bpeWordDictSqlFrom(docsRel)},
      |w0 AS MATERIALIZED (SELECT word, array_to_string(
      |    list_transform(generate_series(1, length(word)), i -> ' ' || substr(word, i, 1) || ';'),
      |    '') AS sym, freq FROM wd),
      |$rounds""".stripMargin
  }

  val q143Sql: String = {
    val unioned = (1 to BpeMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, ab AS merged, cnt AS pair_freq FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeChainSqlFrom("documents")}
      |SELECT * FROM ($unioned) u ORDER BY merge_rank""".stripMargin
  }

  /** q145: BPE tokenizer APPLICATION — the q143-trained merges applied
    * back to the corpus: per document, valid-word count, BPE token
    * count under the trained vocabulary, character count, and the
    * fixed-point chars-per-token compression ratio (the metric a
    * tokenizer change is judged by). Training's final dictionary state
    * IS the applied tokenizer ([[graft.ext.BpeTrain.Trained]] — `sym`
    * after all merges), so application is one vocabulary join: docs'
    * valid tokens join the (word → token-count) dictionary and
    * aggregate per doc. Docs with no valid tokens report zeros (null
    * ratio). */
  def q145BpeTokenize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.BpeTrain
    val docs = Tables.load(s, dir, "documents")
    val dict = BpeTrain.tokenCounts(sharedBpeTrainedAll(s, dir))
    val dw = BpeTrain.docWords(docs, "text", carry = Seq("doc_id"))
    val agg = dw.join(broadcast(dict), "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_bpe").as("n_bpe_tokens"),
        sum(length($"word")).cast("long").as("n_chars"))
    docs.select($"doc_id").join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
        coalesce($"n_chars", lit(0L)).as("n_chars"),
        expr("CASE WHEN n_bpe_tokens > 0 THEN n_chars * 1000000L DIV n_bpe_tokens END")
          .as("cpt_ppm"))
      .orderBy($"doc_id")
  }

  val q145Sql: String =
    s"""WITH ${bpeChainSqlFrom("documents")},
      |dict AS (SELECT word, CAST(len(string_split(sym, ' ')) - 1 AS BIGINT) AS n_bpe
      |  FROM w$BpeMerges),
      |agg AS (SELECT doc_id, COUNT(*) AS n_words,
      |    CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
      |    CAST(SUM(length(word)) AS BIGINT) AS n_chars
      |  FROM toks JOIN dict USING (word) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(agg.n_words, 0) AS n_words,
      |  COALESCE(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
      |  COALESCE(agg.n_chars, 0) AS n_chars,
      |  CASE WHEN COALESCE(agg.n_bpe_tokens, 0) > 0
      |       THEN COALESCE(agg.n_chars, 0) * 1000000 // agg.n_bpe_tokens END AS cpt_ppm
      |FROM documents d LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q149: tokenizer fertility report — per-LANGUAGE BPE compression,
    * the standard tokenizer-equity metric a release report ships:
    * train the q143 vocabulary once, apply it (the q145 word → token-
    * count dictionary join), bucket documents by the q17 language-ID
    * PREDICTION (the operator composition a real pipeline runs — no
    * labels at inference time), and report per bucket: document count,
    * valid-word count, BPE token count, character count, fixed-point
    * fertility (BPE tokens per word, ppm) and compression (chars per
    * BPE token, ppm). A tokenizer trained on an en-heavy corpus shows
    * higher fertility on the other languages — exactly what this
    * report exists to surface.
    *
    * Scale shape: language-ID is a row-local codegen'd projection on
    * the same scan that explodes words; the trained dictionary is
    * vocabulary-sized and broadcast; the only shuffles carry
    * (pred_lang, partials) — a handful of groups. */
  def q149BpeFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.BpeTrain
    val docs = Tables.load(s, dir, "documents")
    val dict = BpeTrain.tokenCounts(sharedBpeTrainedAll(s, dir))
    // (labeled, predicted) cross-tab: the labeled axis is the equity
    // report, the predicted axis is what a labelless pipeline buckets
    // by — disagreement cells surface langID drift in the same table
    val withLang = docs.select($"doc_id", $"lang",
      langId($"text").as("pred_lang"), $"text")
    val nDocs = withLang.groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"))
    val words = BpeTrain.docWords(withLang, "text", carry = Seq("lang", "pred_lang"))
    val agg = words.join(broadcast(dict), "word")
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_words"), sum($"n_bpe").as("n_bpe_tokens"),
        sum(length($"word")).cast("long").as("n_chars"))
    nDocs.join(agg, Seq("lang", "pred_lang"), "left")
      .select($"lang", $"pred_lang", $"n_docs",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
        coalesce($"n_chars", lit(0L)).as("n_chars"),
        expr("CASE WHEN n_words > 0 THEN n_bpe_tokens * 1000000L DIV n_words END")
          .as("fert_ppm"),
        expr("CASE WHEN n_bpe_tokens > 0 THEN n_chars * 1000000L DIV n_bpe_tokens END")
          .as("cpt_ppm"))
      .orderBy($"lang", $"pred_lang")
  }

  val q149Sql: String =
    s"""WITH ${bpeChainSqlFrom("documents")},
      |dict AS (SELECT word, CAST(len(string_split(sym, ' ')) - 1 AS BIGINT) AS n_bpe
      |  FROM w$BpeMerges),
      |pl AS (SELECT doc_id, lang, $predLangCaseSql AS pred_lang FROM documents),
      |nd AS (SELECT lang, pred_lang, COUNT(*) AS n_docs FROM pl
      |  GROUP BY lang, pred_lang),
      |wa AS (SELECT pl.lang, pl.pred_lang, COUNT(*) AS n_words,
      |    CAST(SUM(d.n_bpe) AS BIGINT) AS n_bpe_tokens,
      |    CAST(SUM(length(t.word)) AS BIGINT) AS n_chars
      |  FROM toks t JOIN dict d USING (word) JOIN pl ON pl.doc_id = t.doc_id
      |  GROUP BY pl.lang, pl.pred_lang)
      |SELECT nd.lang, nd.pred_lang, nd.n_docs,
      |  COALESCE(wa.n_words, 0) AS n_words,
      |  COALESCE(wa.n_bpe_tokens, 0) AS n_bpe_tokens,
      |  COALESCE(wa.n_chars, 0) AS n_chars,
      |  CASE WHEN wa.n_words > 0
      |       THEN wa.n_bpe_tokens * 1000000 // wa.n_words END AS fert_ppm,
      |  CASE WHEN wa.n_bpe_tokens > 0
      |       THEN wa.n_chars * 1000000 // wa.n_bpe_tokens END AS cpt_ppm
      |FROM nd LEFT JOIN wa USING (lang, pred_lang)
      |ORDER BY lang, pred_lang""".stripMargin

  /** The tokenizer trained on the STANDING corpus (doc_id < 250),
    * persisted as two parquet parts (ranked merge table + final word
    * dictionary) and handed back as LOADED lazy scans — the model
    * registry's LAST uncovered trained artifact (after the NB weights,
    * the calibration registry, the PQ codebooks, the LSH index, the
    * BM25 index, the dup-gram dictionary). */
  private val bpeStoreCache = SessionArtifact[(DataFrame, DataFrame)]("bpe_store")

  private[queries] def sharedPersistedBpe(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    bpeStoreCache(s, dir) {
      import graft.ext.BpeTrain
      val standing = Tables.load(s, dir, "documents").filter(col("doc_id") < 250)
      val trained = BpeTrain.trainBatched(BpeTrain.wordDict(standing, "text"), BpeMerges)
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val fp = standing.agg(expr("bit_xor(doc_id)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "bpe_tokenizer", fp,
        Seq("merges" -> trained.merges, "dict" -> trained.dict))
      (reg.read(s, root, "bpe_tokenizer", v, "merges"),
        reg.read(s, root, "bpe_tokenizer", v, "dict"))
    }

  /** q185: FROZEN tokenizer application to an arrival batch — the
    * registry serve for the tokenizer: merges load from parquet,
    * collect to driver literals (24 rules — the collectBooks class),
    * and apply ROW-locally to the arrival slice's word dictionary via
    * training's own rewrite chain ([[graft.ext.BpeTrain.applyMerges]]),
    * so words the trainer NEVER SAW tokenize correctly under the
    * frozen vocabulary (the q145 dictionary join cannot do that — it
    * only covers training words). Per arrival doc: word count, OOV
    * word count (novelty vs the loaded training dictionary — the
    * vocabulary-drift signal that schedules retraining), BPE token
    * count, characters, and fixed-point compression. No training code
    * on the execution path; the oracle retrains from the raw standing
    * slice and replays the application chain per merge round, so the
    * green hash certifies the artifact round trip AND the frozen
    * rewrite. */
  def q185PersistedBpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.BpeTrain
    val (mergesL, dictL) = sharedPersistedBpe(s, dir)
    val rules = BpeTrain.collectMerges(mergesL)
    val fresh = Tables.load(s, dir, "documents").filter($"doc_id" >= 250)
    val words = BpeTrain.docWords(fresh, "text", carry = Seq("doc_id"))
    val wd = words.groupBy($"word").agg(count(lit(1)).as("freq"))
    val perWord = BpeTrain.applyMerges(wd, rules)
      .select($"word", (size(split($"sym", " ")) - 1).cast("long").as("n_bpe"))
      .join(dictL.select($"word").withColumn("known", lit(1L)), Seq("word"), "left")
      .withColumn("known", coalesce($"known", lit(0L)))
    val agg = words.join(perWord, "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(($"known" === 0).cast("long")).as("n_oov_words"),
        sum($"n_bpe").as("n_bpe_tokens"),
        sum(length($"word")).cast("long").as("n_chars"))
    fresh.select($"doc_id").join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_oov_words", lit(0L)).as("n_oov_words"),
        coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
        coalesce($"n_chars", lit(0L)).as("n_chars"),
        expr("CASE WHEN n_bpe_tokens > 0 THEN n_chars * 1000000L DIV n_bpe_tokens END")
          .as("cpt_ppm"))
      .orderBy($"doc_id")
  }

  val q185Sql: String = {
    val applyRounds = (1 to BpeMerges).map { i =>
      s"""a$i AS (SELECT word, replace(sym, ' ' || m.a || '; ' || m.b || ';', ' ' || m.a || m.b || ';') AS sym
        |  FROM a${i - 1}, m$i m)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeChainSqlFrom("(SELECT * FROM documents WHERE doc_id < 250)")},
      |ftoks AS (SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      |    FROM documents WHERE doc_id >= 250) t
      |  WHERE regexp_matches(word, '^[a-z0-9]+$$')),
      |a0 AS (SELECT word, array_to_string(
      |    list_transform(generate_series(1, length(word)), i -> ' ' || substr(word, i, 1) || ';'),
      |    '') AS sym FROM (SELECT word FROM ftoks GROUP BY word) fw),
      |$applyRounds,
      |pw AS (SELECT a$BpeMerges.word,
      |    CAST(len(string_split(sym, ' ')) - 1 AS BIGINT) AS n_bpe,
      |    CASE WHEN kn.word IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM a$BpeMerges LEFT JOIN (SELECT word FROM w$BpeMerges) kn USING (word)),
      |ag AS (SELECT doc_id, COUNT(*) AS n_words,
      |    CAST(SUM(pw.oov) AS BIGINT) AS n_oov_words,
      |    CAST(SUM(pw.n_bpe) AS BIGINT) AS n_bpe_tokens,
      |    CAST(SUM(length(ftoks.word)) AS BIGINT) AS n_chars
      |  FROM ftoks JOIN pw USING (word) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(ag.n_words, 0) AS n_words,
      |  COALESCE(ag.n_oov_words, 0) AS n_oov_words,
      |  COALESCE(ag.n_bpe_tokens, 0) AS n_bpe_tokens,
      |  COALESCE(ag.n_chars, 0) AS n_chars,
      |  CASE WHEN COALESCE(ag.n_bpe_tokens, 0) > 0
      |       THEN COALESCE(ag.n_chars, 0) * 1000000 // ag.n_bpe_tokens END AS cpt_ppm
      |FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
      |LEFT JOIN ag USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  }

  /** q206: markup/boilerplate extraction
    * ([[graft.functions.MarkupExtract]]) — HTML → clean training
    * prose, the first stage of a crawl pipeline ahead of the
    * quality/language gates. The driver's documents carry no markup,
    * so the query wraps each document in a DETERMINISTIC synthetic
    * page (title/style/script head, a link-only nav, an h1, the text
    * as two paragraphs — the second with entities and an inline
    * anchor — and a link-dense footer), built by the same expression
    * in both engines; the extraction rule (script/style strip →
    * block segmentation → per-block text/link-text cleaning →
    * min-length + link-density keep) is replayed 1:1 in the oracle.
    * What the green hash certifies: the nav and footer are dropped
    * (link density), head fragments are dropped (length), both
    * paragraphs are kept verbatim with entities decoded — and the
    * shortest documents' first half drops at the 25-char floor, so
    * the threshold itself is exercised on real rows. Row-local,
    * shuffle-free (one final order). */
  def q206MarkupExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.MarkupExtract
    val html = concat(
      lit("<html><head><title>Doc "), $"doc_id", lit("</title>"),
      lit("<style>body { margin: 0; }</style>"),
      lit("<script>var page = "), $"doc_id", lit(";</script></head><body>"),
      lit("<div id=\"nav\"><a href=\"/home\">Home</a> <a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></div>"),
      lit("<h1>"), $"source", lit(" report</h1>"),
      lit("<p>"), expr("substring(text, 1, length(text) DIV 2)"), lit("</p>"),
      lit("<p>"), expr("substring(text, length(text) DIV 2 + 1)"),
      lit(" see &quot;the docs&quot; &amp; <a href=\"/ref\">this reference</a> &lt;ok&gt;</p>"),
      lit("<div class=\"footer\"><a href=\"/t\">Terms of service</a> <a href=\"/p\">Privacy policy</a> ok</div>"),
      lit("</body></html>"))
    Tables.load(s, dir, "documents")
      .select($"doc_id", html.as("html"))
      .select($"doc_id",
        size(MarkupExtract.blockStats($"html")).cast("long").as("n_blocks"),
        size(MarkupExtract.keptBlocks($"html")).cast("long").as("n_kept"),
        MarkupExtract.extractText($"html").as("extracted"))
      .withColumn("extracted_chars", length($"extracted").cast("long"))
      .orderBy($"doc_id")
  }

  private def q206CleanSql(x: String): String =
    "trim(regexp_replace(replace(replace(replace(replace(replace(replace(" +
      s"regexp_replace($x, '<[^>]*>', ' ', 'g')," +
      "'&lt;','<'),'&gt;','>'),'&quot;','\"'),'&#39;', chr(39)),'&nbsp;',' '),'&amp;','&')," +
      "'\\s+', ' ', 'g'))"

  val q206Sql: String = {
    val anchorText = "array_to_string(regexp_extract_all(b, " +
      "'(?is)<a(?:\\s[^>]*)?>(.*?)</a>', 1), ' ')"
    s"""WITH h AS (SELECT doc_id,
      |    '<html><head><title>Doc ' || doc_id || '</title>' ||
      |    '<style>body { margin: 0; }</style>' ||
      |    '<script>var page = ' || doc_id || ';</script></head><body>' ||
      |    '<div id="nav"><a href="/home">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div>' ||
      |    '<h1>' || source || ' report</h1>' ||
      |    '<p>' || substr(text, 1, length(text) // 2) || '</p>' ||
      |    '<p>' || substr(text, length(text) // 2 + 1) ||
      |    ' see &quot;the docs&quot; &amp; <a href="/ref">this reference</a> &lt;ok&gt;</p>' ||
      |    '<div class="footer"><a href="/t">Terms of service</a> <a href="/p">Privacy policy</a> ok</div>' ||
      |    '</body></html>' AS html
      |  FROM documents),
      |ns AS (SELECT doc_id,
      |    regexp_replace(regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS html2 FROM h),
      |bs AS (SELECT doc_id,
      |    list_filter(list_transform(
      |      string_split_regex(html2, '(?i)</?(?:html|head|body|title|h[1-6]|p|div|ul|ol|li|table|thead|tbody|tr|td|th|section|article|header|footer|nav|blockquote|pre|br|hr)(?:\\s[^>]*)?/?>'),
      |      b -> struct_pack(
      |        btext := ${q206CleanSql("b")},
      |        llen := coalesce(length(${q206CleanSql(anchorText)}), 0))),
      |      s -> s.btext <> '') AS blocks FROM ns),
      |agg AS (SELECT doc_id,
      |    CAST(len(blocks) AS BIGINT) AS n_blocks,
      |    list_filter(blocks, s -> length(s.btext) >= 25 AND s.llen * 2 <= length(s.btext)) AS kept
      |  FROM bs)
      |SELECT doc_id, n_blocks,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  array_to_string(list_transform(kept, s -> s.btext), chr(10)) AS extracted,
      |  CAST(length(array_to_string(list_transform(kept, s -> s.btext), chr(10))) AS BIGINT) AS extracted_chars
      |FROM agg ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_markup_extract" -> (q206MarkupExtract _),
    "q185_persisted_bpe_apply" -> (q185PersistedBpeApply _),
    "q149_bpe_fertility" -> (q149BpeFertility _),
    "q143_bpe_train" -> (q143BpeTrain _),
    "q145_bpe_tokenize" -> (q145BpeTokenize _),
    "q116_prefix_join" -> (q116PrefixJoin _),
    "q204_dedup_first_prefix_join" -> (q204DedupFirstPrefixJoin _),
    "q16_text_stats" -> (q16TextStats _),
    "q17_lang_id" -> (q17LangId _),
    "q18_exact_dedup" -> (q18ExactDedup _),
    "q19_ngram_jaccard" -> (q19NgramJaccard _),
    "q151_containment" -> (q151Containment _),
    "q155_containment_probe" -> (q155ContainmentProbe _),
    "q156_block_dedup" -> (q156BlockDedup _),
    "q157_gopher_gate" -> (q157GopherGate _),
    "q169_nb_quality" -> (q169NbQuality _),
    "q174_persisted_nb_score" -> (q174PersistedNbScore _),
    "q159_block_dedup_incr" -> (q159BlockDedupIncr _),
    "q163_tfidf_keywords" -> (q163TfidfKeywords _),
    "q139_novelty" -> (q139Novelty _),
    "q37_pii_redact" -> (q37Redact _),
    "q43_top_tokens" -> (q43TopTokens _),
    "q44_length_histogram" -> (q44LengthHistogram _),
    "q104_collocations" -> (q104Collocations _))

  val oracle: Map[String, String] = Map(
    "q206_markup_extract" -> q206Sql,
    "q185_persisted_bpe_apply" -> q185Sql,
    "q149_bpe_fertility" -> q149Sql,
    "q143_bpe_train" -> q143Sql,
    "q145_bpe_tokenize" -> q145Sql,
    "q16_text_stats" -> q16Sql,
    "q17_lang_id" -> q17Sql,
    "q18_exact_dedup" -> q18Sql,
    "q19_ngram_jaccard" -> q19Sql,
    "q151_containment" -> q151Sql,
    "q155_containment_probe" -> q155Sql,
    "q156_block_dedup" -> q156Sql,
    "q157_gopher_gate" -> q157Sql,
    "q169_nb_quality" -> q169Sql,
    // q174 shares q169's oracle: same semantics, the engine side
    // reading the model from parquet — green hash = lossless round trip
    "q174_persisted_nb_score" -> q169Sql,
    "q159_block_dedup_incr" -> q159Sql,
    "q163_tfidf_keywords" -> q163Sql,
    "q139_novelty" -> q139Sql,
    "q37_pii_redact" -> q37Sql,
    "q43_top_tokens" -> q43Sql,
    "q44_length_histogram" -> q44Sql,
    "q104_collocations" -> q104Sql,
    "q116_prefix_join" -> q116Sql,
    "q204_dedup_first_prefix_join" -> q204Sql)
}
