package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ext.{ConnectedComponents, MinHashLsh}
import graft.functions.{GraftFunctions, TextFunctions, TopKFunctions}
import graft.operators.Profiler
import graft.operators.ColOps._

/** Training-data-pipeline operators at corpus scale (north star,
  * BASELINE.json): duplicate clustering (connected components), TF-IDF
  * term scoring, inverted-index construction, deterministic hash-based
  * train/val/test splitting, single-pass profiling, and sliding
  * event-time windows. Every query is DuckDB-oracle hash-verified.
  */
object ScaleQueries {

  /** q47: near-dup pairs → duplicate CLUSTERS via distributed connected
    * components ([[ConnectedComponents]] — hash-min + pointer jumping,
    * O(log diameter) rounds of equi-join shuffles). The oracle replays
    * the component closure as a recursive CTE. Every doc gets a
    * cluster label (singletons label themselves). */
  def q47DupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = HashDedupQueries.sharedLshCcLabels(s, dir)
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy($"cluster_id")).cast("long"))
      .select($"id".as("doc_id"), $"cluster_id", $"cluster_size")
      .orderBy($"doc_id")
  }

  /** Shared DuckDB chain: MinHash-LSH near-dup pairs on `documents` →
    * recursive-CTE connected components → `lab(doc_id, cluster_id)`.
    * Used by q47 AND q89 — like regChainSql, this block must never
    * fork. Callers prepend `WITH RECURSIVE ` and append their own CTEs/
    * final select. */
  private[queries] val lshCcChainSql: String = {
    val mins = (0 until MinHashLsh.K).map(j =>
      s"list_min(list_transform(hv, h -> (h * ${MinHashLsh.A(j)} + ${MinHashLsh.B(j)}) % 1000000007))")
      .mkString(",\n      |    ")
    s"""docs AS (
      |  SELECT doc_id AS id,
      |    list_distinct(list_transform(generate_series(1, length(text)-7), i -> substr(text, i, 8))) AS sh_set
      |  FROM documents WHERE length(text) >= 8),
      |hv AS (SELECT id, list_transform(sh_set, s ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(s)), i -> CAST(unicode(substr(s, i, 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007)) AS hv FROM docs),
      |sig AS (SELECT id, [$mins] AS sig FROM hv),
      |bands AS (SELECT id, b, list_slice(sig, b*4+1, b*4+4) AS slice
      |  FROM sig CROSS JOIN UNNEST([0,1,2,3]) AS t(b)),
      |${HashDedupQueries.bandCapSql},
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM bkept a JOIN bkept b ON a.b = b.b AND a.slice = b.slice AND a.id < b.id),
      |est AS (SELECT id_a, id_b,
      |  CAST(list_sum(list_transform(generate_series(1,16),
      |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_sim
      |  FROM cand JOIN sig sa ON cand.id_a = sa.id JOIN sig sb ON cand.id_b = sb.id),
      |pairs AS (SELECT id_a, id_b FROM est WHERE est_sim >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin
  }

  val q47Sql: String =
    s"""WITH RECURSIVE $lshCcChainSql
      |SELECT doc_id, cluster_id,
      |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
      |FROM lab ORDER BY doc_id""".stripMargin

  /** q153: leakage-safe train/val/test split — the split decision is a
    * pure hash of the near-dup CLUSTER id (q47's LSH→CC labels), not
    * the document id, so every member of a duplicate cluster lands in
    * the SAME split BY CONSTRUCTION: no near-duplicate pair can
    * straddle train and eval, the leakage class a per-document hash
    * split (q50) cannot prevent (two near-dups hash independently and
    * split apart with probability 2·p·(1−p)). The standard
    * "deduplicate-aware split" every LLM data release needs; the split
    * decision reuses the family's ONE avalanched keep-hash
    * ([[graft.ext.Mixing.keyBp]]: train < 8000 bp ≤ val < 9000 ≤
    * test). Output is the per-document assignment (doc_id, cluster_id,
    * split) — the gate hashes every placement, so the oracle proves
    * cluster-atomicity row by row. Scale shape: q47's clustering (only
    * signatures and id pairs shuffle) + a row-local hash projection. */
  def q153LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ext.Mixing
    val labels = HashDedupQueries.sharedLshCcLabels(s, dir)
    labels
      .withColumn("hk", Mixing.keyBp($"cluster_id"))
      .select($"id".as("doc_id"), $"cluster_id",
        when($"hk" < 8000L, "train").when($"hk" < 9000L, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  val q153Sql: String = {
    val keep = AnalyticsQueries.polyhashSql("CAST(cluster_id AS VARCHAR)")
    s"""WITH RECURSIVE $lshCcChainSql,
      |hk AS (SELECT doc_id, cluster_id,
      |    ($keep * 1103515245 + 12345) % 2147483648 AS __a,
      |    ${AnalyticsQueries.keyBp2Sql("__a")} AS hk FROM lab)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN hk < 8000 THEN 'train' WHEN hk < 9000 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM hk ORDER BY doc_id""".stripMargin
  }

  /** q48: TF-IDF top-3 terms per document — tokenize → per-doc term
    * counts → document frequencies → score → per-doc top-k.
    * Two shuffles ((doc,term) then term); the idf join broadcasts the
    * term-frequency side at scale (it is vocabulary-sized, not
    * corpus-sized). */
  def q48Tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val nDocs = docs.count()
    val toks = docs.select($"doc_id",
        explode(TextFunctions.tokens(lower($"text"))).as("term"))
      .filter($"term" =!= "")
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    // round to 6 decimals: ln() is not IEEE-exactly-rounded and the last
    // ulp differs between the JVM and DuckDB's libm — ranking and
    // hashing both use the rounded score so neither can diverge
    val scored = tf.join(broadcast(dfreq), "term")
      .withColumn("tfidf", round(
        $"tf".cast("double") * log(lit((nDocs + 1).toDouble) / ($"df" + 1).cast("double")), 6))
    TopKFunctions.ranked(scored, Seq("doc_id"), Seq($"tfidf".desc, $"term"), 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df", $"tfidf")
      .orderBy($"doc_id", $"rank")
  }

  val q48Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, term
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |        FROM documents) t
      |  WHERE term <> ''),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |scored AS (SELECT doc_id, term, tf, df,
      |  round(CAST(tf AS DOUBLE) * ln(CAST((SELECT COUNT(*) FROM documents) + 1 AS DOUBLE)
      |    / CAST(df + 1 AS DOUBLE)), 6) AS tfidf
      |  FROM tf JOIN dfreq USING (term)),
      |ranked AS (SELECT *, CAST(row_number() OVER
      |  (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rank FROM scored)
      |SELECT doc_id, rank, term, tf, df, tfidf FROM ranked
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** q49: inverted-index build — term → (document frequency, sorted
    * posting list). Postings are emitted as a comma-joined string (the
    * cross-engine-stable encoding); `sort_array` pins the
    * `collect_list` order, which is otherwise shuffle-dependent. Only
    * terms with df ≥ 10 are kept (the long tail would be the output's
    * bulk but carries no retrieval value at this corpus size). */
  def q49InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val toks = docs.select($"doc_id",
        explode(TextFunctions.tokens(lower($"text"))).as("term"))
      .filter($"term" =!= "").distinct()
    toks.groupBy($"term")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", transform(sort_array(collect_list($"doc_id")),
          x => x.cast("string"))).as("postings"))
      .filter($"df" >= 10)
      .orderBy($"term")
  }

  val q49Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, term
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |        FROM documents) t
      |  WHERE term <> '')
      |SELECT term, COUNT(*) AS df,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      |FROM toks GROUP BY term HAVING COUNT(*) >= 10
      |ORDER BY term""".stripMargin

  /** q50: deterministic train/val/test split — bucket = polyhash of the
    * stringified key mod 100, 80/10/10. Hash-based splitting is the
    * scale-correct way to partition a corpus: no global shuffle, no
    * state, stable under re-runs and appends, and stratification falls
    * out of hash uniformity (verified per language here). */
  def q50HashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    docs.withColumn("bucket", GraftFunctions.polyhash($"doc_id".cast("string")) % 100)
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
      .orderBy($"lang", $"split")
  }

  val q50Sql: String =
    """WITH h AS (SELECT *, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, length(CAST(doc_id AS VARCHAR))),
      |      i -> CAST(unicode(substr(CAST(doc_id AS VARCHAR), i, 1)) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) % 100 AS bucket FROM documents),
      |sp AS (SELECT *, CASE WHEN bucket < 80 THEN 'train'
      |                      WHEN bucket < 90 THEN 'val'
      |                      ELSE 'test' END AS split FROM h)
      |SELECT lang, split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM sp GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** q51: single-pass column profiling over orders ([[Profiler]]). */
  def q51Profile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Profiler.profile(Tables.load(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
      .orderBy($"col_name")
  }

  val q51Sql: String = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows, COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct, CAST(MIN($c) AS DOUBLE) AS min_num,
         |  CAST(MAX($c) AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str,
         |  CAST(NULL AS VARCHAR) AS max_str FROM orders""".stripMargin
    def str(c: String) =
      s"""SELECT '$c', COUNT(*), COUNT(*) - COUNT($c), COUNT(DISTINCT $c),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN($c), MAX($c) FROM orders""".stripMargin
    Seq(num("o_orderkey"), num("o_custkey"), str("o_orderstatus"),
      num("o_totalprice"), str("o_orderpriority"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) t ORDER BY col_name")
  }

  /** q52: sliding (hopping) event-time windows — Spark's native
    * `window(ts, "15 minutes", "5 minutes")`; each event lands in 3
    * overlapping windows. The oracle replays the hop expansion as an
    * UNNEST over offsets. One shuffle on (window, type); the window
    * explosion is map-side. */
  def q52SlidingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.loadEvents(s, dir)
      .withColumn("tsx", timestamp_seconds($"sec"))
      .groupBy(window($"tsx", "15 minutes", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum(dec($"value")).as("sum_value"))
      .select(unix_timestamp($"window.start").as("win_start_sec"),
        $"event_type", $"n", $"sum_value")
      .orderBy($"win_start_sec", $"event_type")
  }

  val q52Sql: String =
    """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type, value FROM events),
      |w AS (SELECT (sec // 300 - k) * 300 AS win_start_sec, event_type, value
      |      FROM e CROSS JOIN UNNEST([0, 1, 2]) AS t(k))
      |SELECT win_start_sec, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY win_start_sec, event_type
      |ORDER BY win_start_sec, event_type""".stripMargin

  /** Column set probed by q134 (fixed, ordered). */
  private val fdCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** q134: functional-dependency discovery — q51's profiling extended
    * from single columns to column RELATIONSHIPS: for every ordered
    * pair (det, dep), `det → dep` holds iff no det value maps to more
    * than one dep value. Each pair is one map-side-combined
    * `groupBy(det).agg(countDistinct(dep))` plus a tiny violation
    * rollup — shuffle keys are det values, never rows. The schema-
    * discovery primitive behind key detection and normalization
    * advice (o_orderkey → * holds; nothing determines the key back).
    * At 100 TB the 12 per-pair passes collapse into one pass of
    * per-pair HLL sketches (q82 machinery); exact per-pair aggs are
    * the oracle-checkable form. */
  def q134FdDiscovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.load(s, dir, "orders").localCheckpoint(false)
    val pairs = for {
      det <- fdCols; dep <- fdCols if det != dep
    } yield {
      o.groupBy(col(det)).agg(countDistinct(col(dep)).as("nd"))
        .agg(count(lit(1)).as("n_keys"),
          count(when($"nd" > 1, 1)).as("n_violating"),
          max($"nd").as("max_dep"))
        .select(lit(det).as("det"), lit(dep).as("dep"),
          $"n_keys", $"n_violating", $"max_dep",
          ($"n_violating" === 0).cast("int").as("holds"))
    }
    pairs.reduce(_ unionByName _).orderBy($"det", $"dep")
  }

  val q134Sql: String = {
    val parts = for {
      det <- fdCols; dep <- fdCols if det != dep
    } yield
      s"""SELECT '$det' AS det, '$dep' AS dep, COUNT(*) AS n_keys,
        |  CAST(COUNT(CASE WHEN nd > 1 THEN 1 END) AS BIGINT) AS n_violating,
        |  MAX(nd) AS max_dep,
        |  CAST(CASE WHEN COUNT(CASE WHEN nd > 1 THEN 1 END) = 0 THEN 1 ELSE 0 END AS INT) AS holds
        |FROM (SELECT $det, CAST(COUNT(DISTINCT $dep) AS BIGINT) AS nd
        |      FROM orders GROUP BY $det) t""".stripMargin
    parts.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY det, dep")
  }

  /** q134b: SKETCH-based functional-dependency discovery — q134's own
    * 100 TB note implemented: ONE scan emits 16 tagged keys per row (4
    * single columns + 12 ordered pairs, det and det|dep concatenated),
    * and a single constant-size exchange builds one HLL register
    * vector per sketch ([[graft.ext.Hll.groupRegisters]] — 16×256
    * longs of state total). `det → dep` holds iff |distinct (det,dep)|
    * = |distinct det|, so the sketch test is est_pair ≤ est_det·1.2
    * (the two estimates hash DIFFERENT key strings, so they are
    * independent ±6.5% draws even for identical cardinalities — 1.2 ≈
    * 2σ of their ratio). The exact per-sketch distinct counts ride
    * alongside from the same exploded keys (the oracle-checkable
    * baseline, and the q137 discipline: the approximation is measured
    * against truth, not assumed), with holds_exact = (n_pair = n_det)
    * ≡ q134's n_violating = 0. The est path's shuffle is 16×256
    * partials per partition regardless of row count — the 12
    * data-sized per-pair passes of q134 become one. */
  def q134bFdSketch(s: SparkSession, dir: String): DataFrame =
    fdSketch(s, dir, withExact = true)

  /** q134c: q134b's sketch path ALONE — the 100 TB form. q134b's
    * exact side (a 16×-data `countDistinct` pass) exists to MEASURE
    * the sketches (the q137 discipline) and is the right gate at
    * verification scale, but at production scale the exact side IS the
    * cost; this entry drops it, leaving one scan + one constant-size
    * (16×256 longs) exchange. Same core builder as q134b, so the two
    * cannot fork; [[ScaleOpsSpec]] pins that its est columns are
    * byte-identical to q134b's and that no distinct aggregation or
    * corpus-sized checkpoint remains in the plan. */
  def q134cFdSketchOnly(s: SparkSession, dir: String): DataFrame =
    fdSketch(s, dir, withExact = false)

  private def fdSketch(s: SparkSession, dir: String, withExact: Boolean): DataFrame = {
    import s.implicits._
    import graft.ext.Hll
    val o = Tables.load(s, dir, "orders")
    val fdPairs = for { det <- fdCols; dep <- fdCols if det != dep } yield (det, dep)
    val entries =
      fdCols.map(c => struct(lit(c).as("sk"), col(c).cast("string").as("k"))) ++
        fdPairs.map { case (det, dep) =>
          struct(lit(s"$det|$dep").as("sk"),
            concat(col(det).cast("string"), lit("|"), col(dep).cast("string")).as("k"))
        }
    val keysRaw = o.select(explode(array(entries: _*)).as("e"))
      .select($"e.sk".as("sk"), $"e.k".as("k"))
    // sketch-only streams the explode straight into the register build
    // (nothing 16×-data-sized ever materializes); the gated entry
    // dedups (sk, k) ONCE and derives BOTH sides from that distinct
    // frame — HLL registers are per-(grp, bucket) MAXes, so registers
    // over the distinct keys are bit-identical to registers over all
    // keys, and the exact side's countDistinct becomes a plain count.
    // (The r18 form checkpointed the full 16×-row explode and paid two
    // full passes over it: the register build AND countDistinct's own
    // (sk, k) dedup exchange. One shared dedup replaces both, and the
    // checkpoint holds only the distinct keys.)
    val keys = if (withExact)
      keysRaw.dropDuplicates("sk", "k").localCheckpoint(false)
    else keysRaw
    val est = Hll.groupEstimate(Hll.groupRegisters(keys, $"sk", $"k"))
      .select($"grp".as("sk"), $"est_raw")
    val pairsDf = fdPairs.toDF("det", "dep")
    val withEst = pairsDf
      .join(broadcast(est.select($"sk", $"est_raw".as("est_det"))),
        pairsDf("det") === $"sk").drop("sk")
      .join(broadcast(est.select($"sk", $"est_raw".as("est_pair"))),
        concat(pairsDf("det"), lit("|"), pairsDf("dep")) === $"sk").drop("sk")
    if (!withExact)
      withEst.select($"det", $"dep", $"est_det", $"est_pair",
          ($"est_pair" <= $"est_det" * lit(1.2)).cast("int").as("holds_est"))
        .orderBy($"det", $"dep")
    else {
      // `keys` is the checkpointed DISTINCT (sk, k) frame here. The
      // isNotNull filter preserves countDistinct semantics (NULL keys
      // don't count — the oracle's COUNT(DISTINCT k) likewise); the
      // est side keeps the unfiltered frame, where a NULL key drops
      // out of the register skeleton join exactly as it always did.
      val exact = keys.filter($"k".isNotNull)
        .groupBy($"sk").agg(count(lit(1)).as("n_exact"))
      withEst
        .join(broadcast(exact.select($"sk", $"n_exact".as("n_det"))),
          pairsDf("det") === $"sk").drop("sk")
        .join(broadcast(exact.select($"sk", $"n_exact".as("n_pair"))),
          concat(pairsDf("det"), lit("|"), pairsDf("dep")) === $"sk").drop("sk")
        .select($"det", $"dep", $"n_det", $"n_pair", $"est_det", $"est_pair",
          ($"n_pair" === $"n_det").cast("int").as("holds_exact"),
          ($"est_pair" <= $"est_det" * lit(1.2)).cast("int").as("holds_est"))
        .orderBy($"det", $"dep")
    }
  }

  /** Shared q134b/q134c oracle chain: exploded tagged keys → HLL
    * register replay → per-sketch estimates, plus the pairs table.
    * ONE builder so the sketch replay cannot fork between the gated
    * full entry and the sketch-only entry. */
  private def fdSketchChainSql: String = {
    val fdPairs = for { det <- fdCols; dep <- fdCols if det != dep } yield (det, dep)
    val branches =
      fdCols.map(c => s"SELECT '$c' AS sk, CAST($c AS VARCHAR) AS k FROM orders") ++
        fdPairs.map { case (det, dep) =>
          s"SELECT '$det|$dep' AS sk, CAST($det AS VARCHAR) || '|' || CAST($dep AS VARCHAR) AS k FROM orders"
        }
    val values = fdPairs.map { case (d, p) => s"('$d', '$p')" }.mkString(", ")
    s"""WITH keys AS (${branches.mkString("\n  UNION ALL ")}),
      |${AnalyticsQueries.regChainSql("", "keys", "k", Some("sk"))},
      |agg AS (SELECT grp AS sk,
      |    round(${AnalyticsQueries.estSql.format(
               "CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT)")}, 6) AS est_raw
      |  FROM reg GROUP BY grp),
      |pairs(det, dep) AS (VALUES $values)""".stripMargin
  }

  val q134bSql: String =
    s"""$fdSketchChainSql,
      |ex AS (SELECT sk, CAST(COUNT(DISTINCT k) AS BIGINT) AS n_exact
      |  FROM keys GROUP BY sk)
      |SELECT p.det, p.dep, exd.n_exact AS n_det, exp.n_exact AS n_pair,
      |  aggd.est_raw AS est_det, aggp.est_raw AS est_pair,
      |  CAST(exp.n_exact = exd.n_exact AS INT) AS holds_exact,
      |  CAST(aggp.est_raw <= aggd.est_raw * 1.2 AS INT) AS holds_est
      |FROM pairs p
      |JOIN agg aggd ON aggd.sk = p.det
      |JOIN agg aggp ON aggp.sk = p.det || '|' || p.dep
      |JOIN ex exd ON exd.sk = p.det
      |JOIN ex exp ON exp.sk = p.det || '|' || p.dep
      |ORDER BY det, dep""".stripMargin

  val q134cSql: String =
    s"""$fdSketchChainSql
      |SELECT p.det, p.dep,
      |  aggd.est_raw AS est_det, aggp.est_raw AS est_pair,
      |  CAST(aggp.est_raw <= aggd.est_raw * 1.2 AS INT) AS holds_est
      |FROM pairs p
      |JOIN agg aggd ON aggd.sk = p.det
      |JOIN agg aggp ON aggp.sk = p.det || '|' || p.dep
      |ORDER BY det, dep""".stripMargin

  /** q140: referential-integrity audit — orphan counts for the star
    * schema's four FK edges (lineitem→orders, orders→customer,
    * lineitem→part, lineitem→supplier): per edge, the child row count
    * and how many child keys have no parent (left-anti join — only
    * keys move, parents pre-distinct so the build side is the key
    * set). The pipeline-hygiene companion to q134's FD discovery: FDs
    * find keys, this verifies the edges that use them survive ingest,
    * partial loads, and retention deletes. */
  def q140RefIntegrity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem").localCheckpoint(false)
    def audit(rel: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val c = child.select(col(key).as("k"))
      val orphans = c.join(parent.select(col(pkey).as("k")).distinct(),
        Seq("k"), "left_anti")
      c.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(rel).as("relationship"), $"n_child", $"n_orphans",
          ($"n_orphans" === 0).cast("int").as("ok"))
    }
    Seq(
      audit("lineitem.l_orderkey->orders", li, "l_orderkey",
        Tables.load(s, dir, "orders"), "o_orderkey"),
      audit("lineitem.l_partkey->part", li, "l_partkey",
        Tables.load(s, dir, "part"), "p_partkey"),
      audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.load(s, dir, "supplier"), "s_suppkey"),
      audit("orders.o_custkey->customer", Tables.load(s, dir, "orders"),
        "o_custkey", Tables.load(s, dir, "customer"), "c_custkey"))
      .reduce(_ unionByName _)
      .orderBy($"relationship")
  }

  val q140Sql: String = {
    def part(rel: String, child: String, key: String, parent: String,
        pkey: String): String =
      s"""SELECT '$rel' AS relationship,
        |  (SELECT COUNT(*) FROM $child) AS n_child,
        |  (SELECT COUNT(*) FROM $child c
        |     WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key)) AS n_orphans,
        |  CAST(CASE WHEN NOT EXISTS (SELECT 1 FROM $child c
        |     WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key))
        |   THEN 1 ELSE 0 END AS INT) AS ok""".stripMargin
    Seq(
      part("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      part("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      part("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      part("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY relationship")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q140_ref_integrity" -> (q140RefIntegrity _),
    "q47_dup_clusters" -> (q47DupClusters _),
    "q48_tfidf" -> (q48Tfidf _),
    "q49_inverted_index" -> (q49InvertedIndex _),
    "q50_hash_split" -> (q50HashSplit _),
    "q51_profile" -> (q51Profile _),
    "q52_sliding_window" -> (q52SlidingWindow _),
    "q134_fd_discovery" -> (q134FdDiscovery _),
    "q134b_fd_sketch" -> (q134bFdSketch _),
    "q134c_fd_sketch_only" -> (q134cFdSketchOnly _),
    "q153_leakage_safe_split" -> (q153LeakageSafeSplit _))

  val oracle: Map[String, String] = Map(
    "q140_ref_integrity" -> q140Sql,
    "q47_dup_clusters" -> q47Sql,
    "q48_tfidf" -> q48Sql,
    "q49_inverted_index" -> q49Sql,
    "q50_hash_split" -> q50Sql,
    "q51_profile" -> q51Sql,
    "q52_sliding_window" -> q52Sql,
    "q134_fd_discovery" -> q134Sql,
    "q134b_fd_sketch" -> q134bSql,
    "q134c_fd_sketch_only" -> q134cSql,
    "q153_leakage_safe_split" -> q153Sql)
}
