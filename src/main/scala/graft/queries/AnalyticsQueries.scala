package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Hll, PageRank}
import graft.operators.{AnomalyDetect, PowerHistogram}

/** Monitoring/estimation analytics: sliding-window anomaly scoring
  * (q81), HLL-sketch join-cardinality estimation (q82), power-of-two
  * quantile histogram (q83), and integer PageRank entity importance
  * (q84). Every output is either exact integers or one mirrored double
  * expression over exact integer/decimal state.
  */
object AnalyticsQueries {

  /** Session-scoped cache of PREPARED purchase graphs, shared across
    * the graph-query family within one process: q84 and q111 walk the
    * same full customer↔supplier graph, q119 and q123 the same
    * quantity-thinned one — without sharing, each query re-runs the
    * orders⋈lineitem scan+join+distinct AND re-materializes the
    * vertex/degree tables, the dominant cold cost of the family under
    * the driver's one-shot-per-query contract. Two bounded graphs:
    * |E| ≪ lineitem, 16 bytes a row — the deliberate trade. */
  private val graphCache = SessionArtifact[PageRank.Graph]("prepared_graph")

  private def preparedGraph(s: SparkSession, dir: String, variant: String)(
      edges: => DataFrame): PageRank.Graph =
    graphCache(s, dir, variant) {
      PageRank.prepare(edges, prePartition = true)
    }

  /** Session-scoped cache of the DISTINCT customer–supplier purchase
    * pairs (raw ids) — the ONE orders⋈lineitem scan + distinct that
    * the full purchase graph (q84/q111/q196 via [[fullPurchaseEdges]]),
    * q131's HITS rounds and q138's degree histogram all start from;
    * each previously re-ran the join+distinct independently. Two longs
    * per edge, |E| ≪ lineitem. The graph consumers derive their
    * even/odd node encoding by bijective row-local projection, so
    * every downstream value is unchanged. */
  private val purchaseBaseCache = SessionArtifact[DataFrame]("purchase_base")

  private def sharedPurchaseBase(s: SparkSession, dir: String): DataFrame =
    purchaseBaseCache(s, dir) {
      import s.implicits._
      Tables.load(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        .join(Tables.load(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("p"))
        .distinct()
        .localCheckpoint(true)
    }

  /** The full customer↔supplier purchase graph shared by q84 (global
    * PageRank) and q111 (personalized PageRank) — both directions,
    * node ids disambiguated even/odd. */
  private def fullPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = sharedPurchaseBase(s, dir)
      .select(($"c" * 2).as("c"), ($"p" * 2 + 1).as("s"))
    base.select($"c".as("src"), $"s".as("dst"))
      .unionByName(base.select($"s".as("src"), $"c".as("dst")))
  }

  /** q81: per-user sliding z-score over the previous 8 events — emit
    * events that sit more than 2.5 sample stddevs from their own key's
    * trailing mean (min 4 prior events). Decimal moments inside the
    * frame; one mirrored double z expression. */
  def q81Anomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.loadEvents(s, dir)
      .select($"event_id", $"user_id", $"us", $"value")
    AnomalyDetect.slidingZScore(e, $"user_id", Seq($"us", $"event_id"),
        $"value", lookback = 8, minPrev = 4)
      .filter(abs($"z") > 2.5)
      .select($"event_id", $"user_id", $"us", $"n_prev", $"z")
      .orderBy($"event_id")
  }

  val q81Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
      |  CAST(value AS DECIMAL(12,2)) AS x,
      |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS xd FROM events),
      |w AS (SELECT event_id, user_id, us, xd,
      |    CAST(COUNT(x) OVER f AS BIGINT) AS n_prev,
      |    CAST(SUM(x) OVER f AS DOUBLE) AS s,
      |    CAST(SUM(x*x) OVER f AS DOUBLE) AS ss
      |  FROM e WINDOW f AS (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
      |z AS (SELECT *, CASE WHEN n_prev >= 4
      |    AND (ss - s*s/CAST(n_prev AS DOUBLE))/(CAST(n_prev AS DOUBLE) - 1.0) > 0.0
      |  THEN round((xd - s/CAST(n_prev AS DOUBLE))
      |    / sqrt((ss - s*s/CAST(n_prev AS DOUBLE))/(CAST(n_prev AS DOUBLE) - 1.0)), 6)
      |  END AS z FROM w)
      |SELECT event_id, user_id, us, n_prev, z FROM z
      |WHERE abs(z) > 2.5 ORDER BY event_id""".stripMargin

  /** q82: join-cardinality estimation from HLL sketches — |A|, |B| and
    * |A∪B| from registers (union = elementwise max), |A∩B| by
    * inclusion-exclusion, next to the exact intersection. The planning
    * primitive for join sizing at 100 TB: sketches are built in one
    * pass per side and merged in constant space. */
  def q82JoinCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Tables.load(s, dir, "orders").select($"o_custkey".as("k"))
    val b = Tables.load(s, dir, "customer").select($"c_custkey".as("k"))
    val ra = Hll.registers(a, $"k").localCheckpoint(false)
    val rb = Hll.registers(b, $"k").localCheckpoint(false)
    val rm = ra.select($"bucket", $"r".as("ra"))
      .join(rb.select($"bucket", $"r".as("rb")), "bucket")
      .select(greatest($"ra", $"rb").as("r"))
    val spa = Hll.sumPow(ra).select($"sum_pow".as("sp_a"))
    val spb = Hll.sumPow(rb).select($"sum_pow".as("sp_b"))
    val spu = Hll.sumPow(rm).select($"sum_pow".as("sp_u"))
    val exact = a.distinct().join(b.distinct(), "k")
      .agg(count(lit(1)).as("exact_intersect"))
    spa.crossJoin(spb).crossJoin(spu).crossJoin(exact)
      .select(
        round(Hll.estExpr($"sp_a"), 6).as("est_a"),
        round(Hll.estExpr($"sp_b"), 6).as("est_b"),
        round(Hll.estExpr($"sp_u"), 6).as("est_union"),
        round(Hll.estExpr($"sp_a") + Hll.estExpr($"sp_b") - Hll.estExpr($"sp_u"), 6)
          .as("est_intersect"),
        $"exact_intersect")
  }

  /** Rolling 31-bit corpus polyhash of a VARCHAR SQL expression — the
    * oracle twin of `GraftFunctions.polyhash`. Shared by every query
    * that replays the hash (never re-spell it inline). */
  private[queries] def polyhashSql(v: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, length($v)),
       |      i -> CAST(unicode(substr($v, i, 1)) AS BIGINT))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin

  /** DuckDB replay of [[graft.ext.Mixing.keyBp]]'s keep-decision point
    * given an alias `a` holding the FIRST LCG round
    * `(polyhash·1103515245 + 12345) mod 2³¹`: the second round folds
    * the high bits into the low ones (`a ⊕ (a div 2¹⁶)`, another LCG,
    * mod 10⁴) — see keyBp's scaladoc for why one LCG round is not
    * enough. Every sampler oracle composes THIS string so the chain
    * can never fork from the engine. */
  private[queries] def keyBp2Sql(a: String): String =
    s"(xor($a, $a // 65536) * 69069 + 1) % 2147483648 % 10000"

  /** CTE chain applying the fmix31 avalanche (the oracle twin of
    * `Hll.fmix31`) to column `h` of `from`, carrying `carry` columns
    * through unchanged; the final CTE `${p}h` yields (carry…, h).
    * Shared by the HLL register chain and the count-min cell chain —
    * the finalizer constants must never fork. */
  private[queries] def fmixChainSql(p: String, from: String, carry: Seq[String]): String = {
    val c = carry.map(_ + ", ").mkString
    s"""${p}f1 AS (SELECT ${c}xor(h, h >> 16) AS h FROM $from),
       |${p}f2 AS (SELECT ${c}(h * 2246822507) % 2147483648 AS h FROM ${p}f1),
       |${p}f3 AS (SELECT ${c}xor(h, h >> 13) AS h FROM ${p}f2),
       |${p}f4 AS (SELECT ${c}(h * 3266489909) % 2147483648 AS h FROM ${p}f3),
       |${p}h AS (SELECT ${c}xor(h, h >> 16) AS h FROM ${p}f4)""".stripMargin
  }

  /** DuckDB register chain for one key source (mirrors Hll.registers/
    * groupRegisters + sumPow). Shared by q78/q82/q91 — the hash chain
    * must never fork. With `grp`, every stage carries the group column
    * and `reg`/`sp` are per-group. */
  private[queries] def regChainSql(
      p: String, from: String, keyVarchar: String, grp: Option[String] = None): String = {
    val gsel = grp.map(g => s"$g AS grp, ").getOrElse("")
    val gc = grp.map(_ => "grp, ").getOrElse("")
    val reg = grp match {
      case None =>
        s"""${p}reg AS (SELECT g.bucket, COALESCE(${p}hit.max_rho, 0) AS r
           |  FROM (SELECT unnest(generate_series(0, 255)) AS bucket) g
           |  LEFT JOIN ${p}hit ON g.bucket = ${p}hit.bucket),
           |${p}sp AS (SELECT CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT) AS sum_pow
           |  FROM ${p}reg)""".stripMargin
      case Some(_) =>
        s"""${p}reg AS (SELECT g.grp, g.bucket, COALESCE(${p}hit.max_rho, 0) AS r
           |  FROM ((SELECT DISTINCT grp FROM ${p}p0) CROSS JOIN
           |        (SELECT unnest(generate_series(0, 255)) AS bucket)) g
           |  LEFT JOIN ${p}hit ON g.grp = ${p}hit.grp AND g.bucket = ${p}hit.bucket),
           |${p}sp AS (SELECT grp, CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT) AS sum_pow
           |  FROM ${p}reg GROUP BY grp)""".stripMargin
    }
    s"""${p}p0 AS (SELECT ${gsel}${polyhashSql(keyVarchar)} AS h FROM $from),
       |${fmixChainSql(p, s"${p}p0", grp.map(_ => "grp").toSeq)},
       |${p}br AS (SELECT ${gc}h % 256 AS bucket,
       |  CASE WHEN h // 256 = 0 THEN CAST(24 AS BIGINT)
       |       ELSE 24 - CAST(length(bin(h // 256)) AS BIGINT) END AS rho FROM ${p}h),
       |${p}hit AS (SELECT ${gc}bucket, MAX(rho) AS max_rho FROM ${p}br GROUP BY ${gc}bucket),
       |$reg""".stripMargin
  }

  private[queries] val estSql =
    "0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE) * 65536.0::DOUBLE" +
      " / (CAST(%s AS DOUBLE) / 4294967296.0::DOUBLE)"

  val q82Sql: String = {
    val eA = estSql.format("asp.sum_pow")
    val eB = estSql.format("bsp.sum_pow")
    val eU = estSql.format("usp.sum_pow")
    s"""WITH ${regChainSql("a", "orders", "CAST(o_custkey AS VARCHAR)")},
       |${regChainSql("b", "customer", "CAST(c_custkey AS VARCHAR)")},
       |ureg AS (SELECT a.bucket, greatest(a.r, b.r) AS r
       |  FROM areg a JOIN breg b ON a.bucket = b.bucket),
       |usp AS (SELECT CAST(SUM(1::BIGINT << CAST(32 - r AS INT)) AS BIGINT) AS sum_pow
       |  FROM ureg),
       |ex AS (SELECT COUNT(*) AS exact_intersect
       |  FROM (SELECT DISTINCT o_custkey AS k FROM orders) x
       |  JOIN (SELECT DISTINCT c_custkey AS k FROM customer) y USING (k))
       |SELECT round($eA, 6) AS est_a, round($eB, 6) AS est_b,
       |  round($eU, 6) AS est_union,
       |  round($eA + $eB - $eU, 6) AS est_intersect,
       |  ex.exact_intersect
       |FROM asp, bsp, usp, ex""".stripMargin
  }

  /** q83: power-of-two quantile histogram of price cents — ≤64 integer
    * counters with bounded RELATIVE error; p50/p95 read off the
    * cumulative walk. The fixed-size replacement for exact rank
    * percentiles (q54) when a sort is off the table. */
  def q83PowerHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
    PowerHistogram.bitLenHistogram(Tables.load(s, dir, "lineitem"), cents)
      .orderBy($"bucket")
  }

  val q83Sql: String =
    """WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem),
      |h AS (SELECT CAST(length(bin(v)) AS BIGINT) AS bucket, COUNT(*) AS n FROM c GROUP BY bucket),
      |w AS (SELECT *,
      |    CAST(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER () AS BIGINT) AS total FROM h)
      |SELECT bucket,
      |  (1::BIGINT << CAST(bucket - 1 AS INT)) AS lo,
      |  (1::BIGINT << CAST(bucket AS INT)) - 1 AS hi,
      |  n, cum,
      |  CAST(CASE WHEN cum - n < (total*50+99)//100 AND (total*50+99)//100 <= cum
      |       THEN 1 ELSE 0 END AS INT) AS is_p50,
      |  CAST(CASE WHEN cum - n < (total*95+99)//100 AND (total*95+99)//100 <= cum
      |       THEN 1 ELSE 0 END AS INT) AS is_p95
      |FROM w ORDER BY bucket""".stripMargin

  /** q117: per-type latency-style quantile sketches — the grouped twin
    * of q83 ([[PowerHistogram.groupedBitLenHistogram]]): one ≤64-counter
    * bit-length histogram per event type over positive value cents,
    * cumulative walk and p50/p95 flags windowed WITHIN each group —
    * no single-partition stage at any group count, unlike the global
    * sketch. Completes the sketch-family symmetry (HLL and heavy
    * hitters already have global + grouped forms). */
  def q117GroupPowerHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.loadEvents(s, dir)
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .filter($"cents" > 0)
    PowerHistogram.groupedBitLenHistogram(ev, $"event_type", $"cents")
      .orderBy($"grp", $"bucket")
  }

  val q117Sql: String =
    """WITH c AS (SELECT event_type AS grp,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v FROM events),
      |f AS (SELECT * FROM c WHERE v > 0),
      |h AS (SELECT grp, CAST(length(bin(v)) AS BIGINT) AS bucket, COUNT(*) AS n
      |  FROM f GROUP BY grp, bucket),
      |w AS (SELECT *,
      |    CAST(SUM(n) OVER (PARTITION BY grp ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER (PARTITION BY grp) AS BIGINT) AS total FROM h)
      |SELECT grp, bucket,
      |  (1::BIGINT << CAST(bucket - 1 AS INT)) AS lo,
      |  (1::BIGINT << CAST(bucket AS INT)) - 1 AS hi,
      |  n, cum,
      |  CAST(CASE WHEN cum - n < (total*50+99)//100 AND (total*50+99)//100 <= cum
      |       THEN 1 ELSE 0 END AS INT) AS is_p50,
      |  CAST(CASE WHEN cum - n < (total*95+99)//100 AND (total*95+99)//100 <= cum
      |       THEN 1 ELSE 0 END AS INT) AS is_p95
      |FROM w ORDER BY grp, bucket""".stripMargin

  /** q84: integer PageRank over the customer↔supplier purchase graph
    * (both directions; node ids disambiguated even/odd). Two damped
    * rounds; top 30 by rank. Exact fixed-point arithmetic — identical
    * in any engine, unlike float PageRank. */
  def q84PageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = preparedGraph(s, dir, "full")(fullPurchaseEdges(s, dir))
    PageRank.ranksOn(g, iters = 2)
      .orderBy($"rank".desc, $"id")
      .limit(30)
  }

  val q84Sql: String =
    """WITH base AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS s
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
      |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |m1 AS (SELECT e.dst, SUM(CAST(1000000 AS BIGINT) // d.deg) AS m
      |  FROM e JOIN deg d ON e.src = d.src GROUP BY e.dst),
      |r1 AS (SELECT v.id, 150000 + CAST(COALESCE(m1.m, 0) * 85 // 100 AS BIGINT) AS rank
      |  FROM v LEFT JOIN m1 ON v.id = m1.dst),
      |m2 AS (SELECT e.dst, SUM(r1.rank // d.deg) AS m
      |  FROM e JOIN deg d ON e.src = d.src JOIN r1 ON e.src = r1.id GROUP BY e.dst),
      |r2 AS (SELECT v.id, 150000 + CAST(COALESCE(m2.m, 0) * 85 // 100 AS BIGINT) AS rank
      |  FROM v LEFT JOIN m2 ON v.id = m2.dst)
      |SELECT id, rank FROM r2 ORDER BY rank DESC, id LIMIT 30""".stripMargin

  /** The purchase graph on the versioned registry: the session-built
    * prepared graph's three parts (edges, vertices, degree-annotated
    * edges) published as ONE write-once generation and handed back as
    * a [[PageRank.Graph]] rebuilt from the LOADED scans
    * ([[PageRank.prepareLoaded]] — no build code on the serve path).
    * This closes the last in-process-only cache: every shared artifact
    * family (vectors, dedup dicts, models, calibration, tokenizer,
    * loader schedule, now graphs) has a persisted registry form.
    * Corpus fingerprint: XOR of edge srcs, the manifest discipline. */
  private val graphRegistryCache = SessionArtifact[PageRank.Graph]("graph_registry")

  private[queries] def loadedPurchaseGraph(s: SparkSession, dir: String): PageRank.Graph =
    graphRegistryCache(s, dir) {
      val g = preparedGraph(s, dir, "full")(fullPurchaseEdges(s, dir))
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val fp = g.e.agg(expr("bit_xor(src)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "purchase_graph", fp, Seq(
        "edges" -> g.e, "vertices" -> g.vertices,
        "deg" -> g.ed.select(col("src"), col("dst"), col("deg"))))
      PageRank.prepareLoaded(
        reg.read(s, root, "purchase_graph", v, "edges"),
        reg.read(s, root, "purchase_graph", v, "vertices"),
        reg.read(s, root, "purchase_graph", v, "deg"))
    }

  /** q196: graph SERVE from the registry — the q165/q174/q176/q179
    * persisted-artifact discipline applied to the graph family: the
    * purchase graph's edge/vertex/degree parts are read from a pinned
    * registry generation and a THREE-round damped integer PageRank
    * (one round deeper than q84, so the serve is not a replay of the
    * in-memory query) runs entirely against the loaded frames, top 20
    * with each node's out-degree joined from the loaded degree part.
    * The oracle rebuilds the graph from the raw tables, so the green
    * hash certifies all three parts' round trips bit-lossless. Scale
    * shape: identical to q84 — cached pre-partitioned edges, broadcast
    * rank transport, TakeOrderedAndProject for the top-k. */
  def q196GraphRegistryServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = loadedPurchaseGraph(s, dir)
    val top = PageRank.ranksOn(g, iters = 3)
      .orderBy($"rank".desc, $"id")
      .limit(20)
    val deg = g.ed.select($"src", $"deg").distinct()
    top.join(broadcast(deg), top("id") === deg("src"))
      .select($"id", $"rank", $"deg")
      .orderBy($"rank".desc, $"id")
  }

  val q196Sql: String =
    """WITH base AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS s
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
      |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |m1 AS (SELECT e.dst, SUM(CAST(1000000 AS BIGINT) // d.deg) AS m
      |  FROM e JOIN deg d ON e.src = d.src GROUP BY e.dst),
      |r1 AS (SELECT v.id, 150000 + CAST(COALESCE(m1.m, 0) * 85 // 100 AS BIGINT) AS rank
      |  FROM v LEFT JOIN m1 ON v.id = m1.dst),
      |m2 AS (SELECT e.dst, SUM(r1.rank // d.deg) AS m
      |  FROM e JOIN deg d ON e.src = d.src JOIN r1 ON e.src = r1.id GROUP BY e.dst),
      |r2 AS (SELECT v.id, 150000 + CAST(COALESCE(m2.m, 0) * 85 // 100 AS BIGINT) AS rank
      |  FROM v LEFT JOIN m2 ON v.id = m2.dst),
      |m3 AS (SELECT e.dst, SUM(r2.rank // d.deg) AS m
      |  FROM e JOIN deg d ON e.src = d.src JOIN r2 ON e.src = r2.id GROUP BY e.dst),
      |r3 AS (SELECT v.id, 150000 + CAST(COALESCE(m3.m, 0) * 85 // 100 AS BIGINT) AS rank
      |  FROM v LEFT JOIN m3 ON v.id = m3.dst)
      |SELECT r3.id, r3.rank, d.deg FROM r3 JOIN deg d ON r3.id = d.src
      |ORDER BY rank DESC, id LIMIT 20""".stripMargin

  /** q102: per-node triangle counts on the co-supplier graph (suppliers
    * sharing an order, both lineitems high-quantity). Engine:
    * degree-ordered orientation ([[graft.ext.Triangles]]) — wedges
    * enumerate only at each edge's lower-(deg, id) endpoint, so hub
    * nodes generate no wedges and the join volume is O(m^1.5), not
    * Σ deg². Oracle: plain id-ordered three-way self-join — a different
    * enumeration order over the same triangle set, so matching counts
    * prove the orientation logic, not just the plumbing. */
  def q102Triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
      .filter($"l_quantity" >= 41)
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk"))
    val pairs = li.as("a").join(li.as("b"), "ok")
      .filter($"a.sk" < $"b.sk")
      .select($"a.sk".as("src"), $"b.sk".as("dst"))
    graft.ext.Triangles.perNodeCounts(pairs)
      .orderBy($"node")
  }

  val q102Sql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
      |  WHERE l_quantity >= 41),
      |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk),
      |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |n AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t
      |  UNION ALL SELECT c FROM t)
      |SELECT node, COUNT(*) AS n_triangles FROM n
      |GROUP BY node ORDER BY node""".stripMargin

  /** q105: 2-core of the co-purchased-part graph (parts sharing an
    * order, both high-quantity) — iterative peeling
    * ([[graft.ext.KCore]]): dangling chains and one-off co-occurrences
    * peel away, the cohesive body stays. Engine peels data-driven
    * (converges in 2-4 rounds on this data, throws past maxRounds);
    * oracle unrolls [[q105OracleRounds]] fixed rounds — peeling is
    * idempotent at the fixed point, so the two agree whenever the
    * engine converged within the unroll, and the engine having MORE
    * rounds available means a mismatch signals real divergence, not a
    * round-count artifact. */
  def q105KCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
      .filter($"l_quantity" >= 41)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
    val pairs = li.as("a").join(li.as("b"), "ok")
      .filter($"a.pk" < $"b.pk")
      .select($"a.pk".as("src"), $"b.pk".as("dst"))
    graft.ext.KCore.kCore(pairs, k = 2)
      .orderBy($"node")
  }

  /** Unrolled peel rounds in the oracle — ≥ the max observed
    * convergence depth (4 at sf0.1) with margin. */
  val q105OracleRounds = 7

  val q105Sql: String = {
    val peels = (1 to q105OracleRounds).map { i =>
      val p = i - 1
      s"""d$p AS MATERIALIZED (SELECT node, COUNT(*) AS c FROM
        |  (SELECT u AS node FROM e$p UNION ALL SELECT v FROM e$p) t GROUP BY node),
        |e$i AS MATERIALIZED (SELECT u, v FROM e$p
        |  WHERE u NOT IN (SELECT node FROM d$p WHERE c < 2)
        |    AND v NOT IN (SELECT node FROM d$p WHERE c < 2))""".stripMargin
    }.mkString(",\n")
    val r = q105OracleRounds
    // MATERIALIZED: each round references its predecessor three times;
    // inlined CTEs would expand the lineitem scan 3^rounds-fold
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |  WHERE l_quantity >= 41),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |$peels
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM
      |  (SELECT u AS node FROM e$r UNION ALL SELECT v FROM e$r) t
      |GROUP BY node ORDER BY node""".stripMargin
  }

  /** q111: personalized PageRank — random walk with restart on q84's
    * purchase graph, seeded at the first ten customers (node ids < 20,
    * even = customer): teleport mass lands only on seeds, so ranks
    * measure proximity to that cohort (the "related entities"
    * recommendation primitive) instead of global importance. Same
    * exact fixed-point arithmetic; oracle unrolls both rounds with the
    * seed-conditional teleport. */
  def q111Ppr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = preparedGraph(s, dir, "full")(fullPurchaseEdges(s, dir))
    PageRank.personalizedOn(g, col("id") < 20, iters = 2)
      .orderBy($"rank".desc, $"id")
      .limit(30)
  }

  val q111Sql: String =
    """WITH base AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS s
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
      |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |r0 AS (SELECT id, CASE WHEN id < 20 THEN 1000000 ELSE 0 END AS rank FROM v),
      |m1 AS (SELECT e.dst, SUM(r0.rank // d.deg) AS m
      |  FROM e JOIN deg d ON e.src = d.src JOIN r0 ON e.src = r0.id GROUP BY e.dst),
      |r1 AS (SELECT v.id, CASE WHEN v.id < 20 THEN 150000 ELSE 0 END
      |    + CAST(COALESCE(m1.m, 0) * 85 // 100 AS BIGINT) AS rank
      |  FROM v LEFT JOIN m1 ON v.id = m1.dst),
      |m2 AS (SELECT e.dst, SUM(r1.rank // d.deg) AS m
      |  FROM e JOIN deg d ON e.src = d.src JOIN r1 ON e.src = r1.id GROUP BY e.dst),
      |r2 AS (SELECT v.id, CASE WHEN v.id < 20 THEN 150000 ELSE 0 END
      |    + CAST(COALESCE(m2.m, 0) * 85 // 100 AS BIGINT) AS rank
      |  FROM v LEFT JOIN m2 ON v.id = m2.dst)
      |SELECT id, rank FROM r2 ORDER BY rank DESC, id LIMIT 30""".stripMargin

  /** The quantity-thinned purchase graph shared by q119 (fixed-point
    * PageRank) and q123 (multi-source BFS): customer↔supplier edges
    * from high-quantity lineitems, node ids disambiguated even/odd. */
  private[graft] def thinPurchaseGraph(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.load(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      .join(Tables.load(s, dir, "lineitem")
          .filter($"l_quantity" >= 45)
          .select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct()
    base.select($"c".as("src"), $"s".as("dst"))
      .unionByName(base.select($"s".as("src"), $"c".as("dst")))
  }

  private[queries] val thinGraphSql: String =
    """base AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS s
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  WHERE l.l_quantity >= 45),
      |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM base UNION ALL SELECT s, c FROM base),
      |v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e)""".stripMargin

  /** The CONVERGED PageRank fixed point as a registry generation,
    * published once per (session, dir) — a fixed point is a
    * convergent ARTIFACT (~20–30 damped applications of the same
    * update), so recomputing it per serve is the one cost the
    * fixpoint family was still paying that every other trained
    * artifact (IVF-PQ, NB, BM25, BPE) already amortizes through the
    * registry. Build: [[PageRank.ranksToFixpointOn]] (data-driven
    * convergence, maxRounds throws); fingerprint: XOR of edge srcs,
    * the purchase_graph discipline. The THIRTEENTH registry kind,
    * audited by q197 (expected rows = thin-graph |V|) and planned by
    * q199. */
  private val pagerankFixCache = SessionArtifact[DataFrame]("pagerank_fix")

  private[queries] def sharedPagerankFixpoint(s: SparkSession, dir: String): DataFrame =
    pagerankFixCache(s, dir) {
      val g = preparedGraph(s, dir, "thin")(thinPurchaseGraph(s, dir))
      val reg = graft.ext.ArtifactRegistry
      val root = RegistryRoots.root(s, dir)
      val fp = g.e.agg(expr("bit_xor(src)")).collect()(0).getLong(0)
      val v = reg.publish(s, root, "pagerank_fix", fp,
        Seq("ranks" -> PageRank.ranksToFixpointOn(g)._1))
      reg.read(s, root, "pagerank_fix", v, "ranks")
    }

  /** q119: PageRank's EXACT integer fixed point, SERVED from the
    * registry (the q196 ingest-vs-serve split applied to the fixpoint
    * family): the first call per (session, dir) runs
    * [[PageRank.ranksToFixpointOn]] (data-driven convergence — a
    * no-change round ends the loop, maxRounds throws; monotone-from-
    * below iteration guarantees the fixed point exists) and publishes
    * the converged ranks; every serve loads the pinned generation and
    * RE-VERIFIES idempotency — one damped application over the loaded
    * ranks must change NOTHING (an eager ≤|V|-row inequality count;
    * a corrupted or stale artifact throws rather than serving
    * near-converged ranks). The oracle unrolls [[q119OracleRounds]]
    * rounds, which the fixed point makes idempotent, so engine and
    * oracle agree whenever the engine converged within the unroll —
    * and the AnalyticsOpsSpec twin asserts the observed depth stays
    * inside it. Every vertex's converged rank is checked (no top-k
    * cut). Serve cost: one application + one aggregate, independent
    * of convergence depth — the depth × job-overhead product is paid
    * once per corpus generation, not per query. */
  def q119PagerankFix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = preparedGraph(s, dir, "thin")(thinPurchaseGraph(s, dir))
    val loaded = sharedPagerankFixpoint(s, dir)
    val applied = PageRank.stepPlan(g, loaded,
        lit(PageRank.FixTeleport), "coalesce(m, 0L) DIV 2")
      .select($"id", $"rank".as("rank_applied"))
    val changed = loaded.join(applied, "id")
      .filter($"rank" =!= $"rank_applied").count()
    require(changed == 0L,
      s"loaded pagerank_fix generation is NOT a fixed point ($changed vertices " +
        "move under one application) — refusing to serve a stale or corrupted artifact")
    loaded.orderBy($"id")
  }

  /** Unrolled rounds in the oracle — ≥ the max observed convergence
    * depth (22/25/28 update applications at sf0.001/0.01/0.1; the
    * output is reproduced by depth−1 unrolled rounds) with margin. */
  val q119OracleRounds = 30

  val q119Sql: String = {
    val rounds = (1 to q119OracleRounds).map { i =>
      val p = i - 1
      s"""m$i AS MATERIALIZED (SELECT ed.dst, SUM(r$p.rank // ed.deg) AS m
        |  FROM ed JOIN r$p ON ed.src = r$p.id GROUP BY ed.dst),
        |r$i AS MATERIALIZED (SELECT v.id,
        |    500000 + CAST(COALESCE(m$i.m, 0) // 2 AS BIGINT) AS rank
        |  FROM v LEFT JOIN m$i ON v.id = m$i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $thinGraphSql,
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM e JOIN deg d ON e.src = d.src),
      |r0 AS (SELECT id, CAST(500000 AS BIGINT) AS rank FROM v),
      |$rounds
      |SELECT id, rank FROM r$q119OracleRounds ORDER BY id""".stripMargin
  }

  /** q123: multi-source BFS — exact hop distance of every entity in
    * the thin purchase graph from the nation-1 customer cohort
    * ([[graft.ext.Bfs]]): dist 0 = the cohort, 1 = its suppliers, 2 =
    * co-customers of those suppliers, … Unreachable nodes are absent.
    * The engine expands frontier-by-frontier and stops when the
    * frontier empties; the oracle unrolls [[q123OracleRounds]] min-dist
    * expansion rounds, idempotent past convergence (BFS never revises
    * a discovered distance). */
  def q123MultiSourceBfs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seeds = Tables.load(s, dir, "customer")
      .filter($"c_nationkey" === 1)
      .select(($"c_custkey" * 2).as("id"))
    graft.ext.Bfs.distances(
        preparedGraph(s, dir, "thin")(thinPurchaseGraph(s, dir)).e, seeds,
        maxRounds = q123OracleRounds)._1
      .orderBy($"id")
  }

  /** Unrolled expansion rounds in the oracle — ≥ the max observed BFS
    * depth (2/4/4 rounds at sf0.001/0.01/0.1) with 3x margin; also the
    * engine's maxRounds in q123, so convergence drifting past the
    * unroll THROWS instead of silently hash-mismatching. */
  val q123OracleRounds = 12

  val q123Sql: String = {
    val rounds = (1 to q123OracleRounds).map { i =>
      val p = i - 1
      s"""d$i AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM (
        |  SELECT id, dist FROM d$p
        |  UNION ALL
        |  SELECT e.dst, d.dist + 1 FROM d$p d JOIN e ON d.id = e.src) u
        |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $thinGraphSql,
      |d0 AS (SELECT DISTINCT c_custkey*2 AS id, CAST(0 AS BIGINT) AS dist
      |  FROM customer WHERE c_nationkey = 1),
      |$rounds
      |SELECT id, dist FROM d$q123OracleRounds ORDER BY id""".stripMargin
  }

  /** q130: grouped least-squares trend — per event type, the OLS slope
    * of value (exact cents) against seconds-since-group-start:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). Drift/trend detection
    * as ONE map-side-combined aggregation pass per group — no
    * iteration, no solver. All five sufficient statistics accumulate
    * as exact DECIMAL(38,0) (Σx² overflows BIGINT at ~10⁶ rows, so
    * decimal accumulation is the 100 TB-safe form); the slope is the
    * single mirrored double at the end (q81 discipline). x is centered
    * on the group's min timestamp to keep magnitudes polynomial. */
  def q130GroupTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"event_type")
    val xy = Tables.loadEvents(s, dir)
      .select($"event_type", $"us",
        ($"value".cast("decimal(12,2)") * 100).cast("long").as("y"))
      .withColumn("mn", min($"us").over(w))
      .withColumn("x", expr("(us - mn) DIV 1000000"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val sums = xy.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum(d($"x")).as("sx"), sum(d($"y")).as("sy"),
      sum(d($"x") * d($"y")).as("sxy"), sum(d($"x") * d($"x")).as("sxx"))
    sums.select($"event_type", $"n",
        (d($"n") * $"sxy" - $"sx" * $"sy").as("num"),
        (d($"n") * $"sxx" - $"sx" * $"sx").as("den"))
      .select($"event_type", $"n",
        when($"den" =!= 0,
          round($"num".cast("double") / $"den".cast("double"), 6)).as("slope"))
      .orderBy($"event_type")
  }

  val q130Sql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y FROM events),
      |m AS (SELECT *, MIN(us) OVER (PARTITION BY event_type) AS mn FROM e),
      |x AS (SELECT event_type, (us - mn) // 1000000 AS x, y FROM m),
      |sums AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS DECIMAL(38,0)) AS sx, CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx
      |  FROM x GROUP BY event_type)
      |SELECT event_type, n,
      |  CASE WHEN n*sxx - sx*sx <> 0 THEN
      |    round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6)
      |  END AS slope
      |FROM sums ORDER BY event_type""".stripMargin

  /** q160: one-sided integer CUSUM change-point detection — the
    * SEQUENTIAL anomaly member beside the window z-score (q81), TVD
    * drift (q96), and OLS trend (q130): per user, the classic Page
    * cumulative-sum statistic S_i = max(0, S_{i-1} + x_i − target −
    * slack) over the event sequence in (us, event_id) order, alarming
    * (and restarting) when S crosses the threshold. Detects sustained
    * small shifts a per-point z-score never flags. Per-user reference
    * values derive from the user's own exact integer mean cents
    * (target = Σ div n; slack = target div 20; H = 2·target) — all
    * integer, engine-replayable. Scale shape: ONE aggregation per user
    * builds (n, Σ, ordered seq) map-side; the fold is a row-local
    * `aggregate` over that user's bounded event list (≤ ~10² here);
    * keys with unbounded history belong to the streaming form
    * (mapGroupsWithState) — the batch operator's contract is bounded
    * per-key cardinality, like any per-key collect. */
  def q160Cusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    AnomalyDetect.cusum(
        Tables.loadEvents(s, dir)
          .select($"user_id", $"us", $"event_id",
            ($"value".cast("decimal(12,2)") * 100).cast("long").as("cents")))
      .orderBy($"user_id")
  }


  val q160Sql: String =
    """WITH RECURSIVE ev AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
      |ord AS (SELECT user_id, event_id, cents,
      |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM ev),
      |p2 AS (SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(cents) AS BIGINT) // COUNT(*) AS target,
      |    (CAST(SUM(cents) AS BIGINT) // COUNT(*)) // 20 AS slack,
      |    (CAST(SUM(cents) AS BIGINT) // COUNT(*)) * 2 AS thresh
      |  FROM ord GROUP BY user_id),
      |st AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS s,
      |    CAST(0 AS BIGINT) AS maxs, CAST(0 AS BIGINT) AS nal,
      |    CAST(NULL AS BIGINT) AS fid
      |  FROM p2
      |  UNION ALL
      |  SELECT st.user_id, st.rn + 1,
      |    CASE WHEN greatest(CAST(0 AS BIGINT), st.s + o.cents - p.target - p.slack) > p.thresh
      |         THEN CAST(0 AS BIGINT)
      |         ELSE greatest(CAST(0 AS BIGINT), st.s + o.cents - p.target - p.slack) END,
      |    greatest(st.maxs, greatest(CAST(0 AS BIGINT), st.s + o.cents - p.target - p.slack)),
      |    st.nal + CASE WHEN greatest(CAST(0 AS BIGINT), st.s + o.cents - p.target - p.slack) > p.thresh
      |             THEN 1 ELSE 0 END,
      |    COALESCE(st.fid,
      |      CASE WHEN greatest(CAST(0 AS BIGINT), st.s + o.cents - p.target - p.slack) > p.thresh
      |           THEN o.event_id END)
      |  FROM st
      |  JOIN ord o ON o.user_id = st.user_id AND o.rn = st.rn + 1
      |  JOIN p2 p ON p.user_id = st.user_id)
      |SELECT p2.user_id, p2.n_events, p2.target AS target_cents,
      |  st.nal AS n_alarms, st.fid AS first_alarm_event_id, st.maxs AS max_s
      |FROM st JOIN p2 USING (user_id) WHERE st.rn = p2.n_events
      |ORDER BY user_id""".stripMargin

  /** q162: robust outlier report — exact integer median + MAD per
    * event type ([[AnomalyDetect.robustOutliers]]), the ROBUST twin of
    * q81's mean/stddev z-score: a heavy-tailed burst drags a mean and
    * inflates a stddev until the gate goes blind, but cannot move a
    * median or a MAD. Rank-exact medians via the grouped cumulative-
    * histogram discipline (per-(type, value) counts, lower-median
    * threshold — the q158/q152 family; nothing row-sized sorts),
    * applied twice; outlier = |x − med| > 5·MAD, all-integer. */
  def q162RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    AnomalyDetect.robustOutliers(
        Tables.loadEvents(s, dir)
          .select($"event_type".as("key"),
            ($"value".cast("decimal(12,2)") * 100).cast("long").as("cents")))
      .select($"key".as("event_type"), $"n", $"med_cents", $"mad_cents",
        $"n_outliers", $"max_dev")
      .orderBy($"event_type")
  }

  val q162Sql: String =
    """WITH e AS (SELECT event_type AS key,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
      |h1 AS (SELECT key, cents AS v, COUNT(*) AS n FROM e GROUP BY key, cents),
      |c1 AS (SELECT key, v, SUM(n) OVER (PARTITION BY key ORDER BY v) AS cumn FROM h1),
      |t1 AS (SELECT key, SUM(n) AS tot FROM h1 GROUP BY key),
      |med AS (SELECT key, MIN(CASE WHEN cumn * 2 >= tot THEN v END) AS med
      |  FROM c1 JOIN t1 USING (key) GROUP BY key),
      |d AS (SELECT e.key, e.cents, med.med, abs(e.cents - med.med) AS dv
      |  FROM e JOIN med USING (key)),
      |h2 AS (SELECT key, dv AS v, COUNT(*) AS n FROM d GROUP BY key, dv),
      |c2 AS (SELECT key, v, SUM(n) OVER (PARTITION BY key ORDER BY v) AS cumn FROM h2),
      |t2 AS (SELECT key, SUM(n) AS tot FROM h2 GROUP BY key),
      |mad AS (SELECT key, MIN(CASE WHEN cumn * 2 >= tot THEN v END) AS mad
      |  FROM c2 JOIN t2 USING (key) GROUP BY key)
      |SELECT d.key AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(d.med) AS BIGINT) AS med_cents,
      |  CAST(MIN(mad.mad) AS BIGINT) AS mad_cents,
      |  CAST(COUNT(CASE WHEN d.dv > mad.mad * 5 THEN 1 END) AS BIGINT) AS n_outliers,
      |  CAST(MAX(d.dv) AS BIGINT) AS max_dev
      |FROM d JOIN mad USING (key)
      |GROUP BY d.key ORDER BY event_type""".stripMargin

  /** q131: HITS hubs & authorities — the DIRECTIONAL importance twin of
    * PageRank on the bipartite purchase graph: customers are pure hubs,
    * suppliers pure authorities, and two unnormalized mutual-
    * reinforcement rounds (auth = Σ in-hub; hub = Σ out-auth) rank
    * exactly like the normalized iteration — normalization rescales
    * uniformly per round and never reorders, so integer sums with NO
    * division are the bit-portable form (magnitudes ≤ deg²·10⁶ ≈ 2^47
    * after two rounds). Top 20 of each side by (score DESC, id). */
  def q131Hits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the session purchase-base artifact IS this query's (c, p) edge
    // set — already distinct and eagerly checkpointed for the four
    // consumers across the two rounds
    val e = sharedPurchaseBase(s, dir)
    val hub0 = lit(1000000L)
    val auth1 = e.groupBy($"p").agg(sum(hub0).as("a1"))
    val hub1 = e.join(auth1, "p").groupBy($"c").agg(sum($"a1").as("h1"))
    val auth2 = e.join(hub1, "c").groupBy($"p").agg(sum($"h1").as("a2"))
    val hub2 = e.join(auth2, "p").groupBy($"c").agg(sum($"a2").as("h2"))
    val topAuth = auth2
      .select(lit("authority").as("kind"), $"p".as("id"), $"a2".as("score"))
      .orderBy($"score".desc, $"id").limit(20)
    val topHub = hub2
      .select(lit("hub").as("kind"), $"c".as("id"), $"h2".as("score"))
      .orderBy($"score".desc, $"id").limit(20)
    topAuth.unionByName(topHub).orderBy($"kind", $"score".desc, $"id")
  }

  val q131Sql: String =
    """WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS p
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) * 1000000 AS a1 FROM e GROUP BY p),
      |h1 AS (SELECT e.c, CAST(SUM(a1.a1) AS BIGINT) AS h1 FROM e JOIN a1 ON e.p = a1.p GROUP BY e.c),
      |a2 AS (SELECT e.p, CAST(SUM(h1.h1) AS BIGINT) AS a2 FROM e JOIN h1 ON e.c = h1.c GROUP BY e.p),
      |h2 AS (SELECT e.c, CAST(SUM(a2.a2) AS BIGINT) AS h2 FROM e JOIN a2 ON e.p = a2.p GROUP BY e.c),
      |ta AS (SELECT 'authority' AS kind, p AS id, a2 AS score FROM a2
      |  ORDER BY score DESC, id LIMIT 20),
      |th AS (SELECT 'hub' AS kind, c AS id, h2 AS score FROM h2
      |  ORDER BY score DESC, id LIMIT 20)
      |SELECT kind, id, score FROM (SELECT * FROM ta UNION ALL SELECT * FROM th) u
      |ORDER BY kind, score DESC, id""".stripMargin

  /** q135: categorical profile per group — for each event type, its
    * user-distribution summary: total events, distinct users, the MODE
    * user (deterministic tie-break: highest count then lowest id, via
    * ONE min over the packed integer `user − n·2^24` — the q124
    * pack-the-tie-break discipline, no ranking window, portable to any
    * engine that can min a BIGINT; requires user < 2^24), and the
    * distribution's entropy in integer millibits using the bit-length
    * surrogate (`Σ n·(bitlen(N)−bitlen(n))·1000 DIV N` — the q86
    * integer-log discipline: exact, engine-portable, no libm). Skewed
    * user mixes read low, uniform mixes read high — the categorical
    * drift/imbalance probe next to q96's histogram drift. One grouped
    * count plus one per-type rollup; the group-total N rides in via a
    * type-partitioned window, never a second scan. */
  def q135CategoricalProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"event_type")
    val c = Tables.loadEvents(s, dir)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
      .withColumn("nt", sum($"n").over(w))
    c.groupBy($"event_type").agg(
        max($"nt").as("n_events"), // constant within the group
        count(lit(1)).as("n_users"),
        min($"user_id" - $"n" * 16777216L).as("pk"),
        sum($"n" * (length(bin($"nt")) - length(bin($"n"))).cast("long")).as("hnum"))
      .select($"event_type", $"n_events", $"n_users",
        expr("(-pk + 16777215L) DIV 16777216L").as("mode_n"),
        expr("((-pk + 16777215L) DIV 16777216L) * 16777216L + pk").as("mode_user"),
        expr("hnum * 1000L DIV n_events").as("entropy_millibits"))
      .orderBy($"event_type")
  }

  val q135Sql: String =
    """WITH c AS (SELECT event_type, user_id, COUNT(*) AS n FROM events
      |  GROUP BY event_type, user_id),
      |t AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS nt FROM c),
      |p AS (SELECT event_type, MAX(nt) AS n_events, COUNT(*) AS n_users,
      |    MIN(user_id - n * 16777216) AS pk,
      |    CAST(SUM(n * (length(bin(nt)) - length(bin(n)))) AS BIGINT) AS hnum
      |  FROM t GROUP BY event_type)
      |SELECT event_type, n_events, n_users,
      |  CAST((-pk + 16777215) // 16777216 AS BIGINT) AS mode_n,
      |  CAST(((-pk + 16777215) // 16777216) * 16777216 + pk AS BIGINT) AS mode_user,
      |  hnum * 1000 // n_events AS entropy_millibits
      |FROM p ORDER BY event_type""".stripMargin

  /** q138: degree-distribution power-law profile — the graph-shape
    * diagnostic behind every skew decision (salting, hub orientation,
    * broadcast cutoffs): bucket the purchase graph's degrees by bit
    * length (integer log2, the q83 discipline), then fit the log-log
    * slope by OLS over (bucket, bitlen(count)) — and since there are
    * ≤ 64 points, the slope ships as the EXACT integer rational
    * (num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)²), no doubles anywhere.
    * A slope near −1..−3 in these integer logs is the heavy-tail
    * signature that says "orient wedges / salt this key". */
  def q138DegreePowerlaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // derive the even/odd-encoded edge set from the session purchase
    // base (bijective projection of the same distinct pair set)
    val e = sharedPurchaseBase(s, dir)
      .select(($"c" * 2).as("c"), ($"p" * 2 + 1).as("p"))
    val deg = e.select($"c".as("id")).unionAll(e.select($"p".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
    val hist = deg
      .groupBy(length(bin($"deg")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"))
      .localCheckpoint(true) // ≤ 64 rows feeding output AND the fit
    val pts = hist.select($"bucket".as("x"),
      (length(bin($"n_nodes")) - 1).cast("long").as("y"))
    val fit = pts.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select(($"n" * $"sxy" - $"sx" * $"sy").as("slope_num"),
        ($"n" * $"sxx" - $"sx" * $"sx").as("slope_den"))
    hist.crossJoin(broadcast(fit))
      .select($"bucket",
        expr("shiftleft(1L, CAST(bucket - 1 AS INT))").as("lo_deg"),
        (expr("shiftleft(1L, CAST(bucket AS INT))") - 1).as("hi_deg"),
        $"n_nodes", $"slope_num", $"slope_den")
      .orderBy($"bucket")
  }

  val q138Sql: String =
    """WITH base AS (SELECT DISTINCT o.o_custkey*2 AS c, l.l_suppkey*2+1 AS p
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |nodes AS (SELECT c AS id FROM base UNION ALL SELECT p FROM base),
      |deg AS (SELECT id, COUNT(*) AS deg FROM nodes GROUP BY id),
      |hist AS (SELECT CAST(length(bin(deg)) AS BIGINT) AS bucket,
      |    COUNT(*) AS n_nodes FROM deg GROUP BY 1),
      |pts AS (SELECT bucket AS x, CAST(length(bin(n_nodes)) - 1 AS BIGINT) AS y FROM hist),
      |fit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx FROM pts),
      |sl AS (SELECT CAST(n*sxy - sx*sy AS BIGINT) AS slope_num,
      |    CAST(n*sxx - sx*sx AS BIGINT) AS slope_den FROM fit)
      |SELECT bucket, 1::BIGINT << CAST(bucket - 1 AS INT) AS lo_deg,
      |  (1::BIGINT << CAST(bucket AS INT)) - 1 AS hi_deg,
      |  n_nodes, slope_num, slope_den
      |FROM hist CROSS JOIN sl ORDER BY bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q138_degree_powerlaw" -> (q138DegreePowerlaw _),
    "q135_categorical_profile" -> (q135CategoricalProfile _),
    "q131_hits" -> (q131Hits _),
    "q160_cusum" -> (q160Cusum _),
    "q162_robust_outliers" -> (q162RobustOutliers _),
    "q130_group_trend" -> (q130GroupTrend _),
    "q123_multi_source_bfs" -> (q123MultiSourceBfs _),
    "q81_anomaly" -> (q81Anomaly _),
    "q82_join_card" -> (q82JoinCard _),
    "q83_power_hist" -> (q83PowerHist _),
    "q84_pagerank" -> (q84PageRank _),
    "q196_graph_registry_serve" -> (q196GraphRegistryServe _),
    "q102_triangles" -> (q102Triangles _),
    "q105_kcore" -> (q105KCore _),
    "q111_ppr" -> (q111Ppr _),
    "q117_group_power_hist" -> (q117GroupPowerHist _),
    "q119_pagerank_fix" -> (q119PagerankFix _))

  val oracle: Map[String, String] = Map(
    "q138_degree_powerlaw" -> q138Sql,
    "q135_categorical_profile" -> q135Sql,
    "q131_hits" -> q131Sql,
    "q160_cusum" -> q160Sql,
    "q162_robust_outliers" -> q162Sql,
    "q130_group_trend" -> q130Sql,
    "q123_multi_source_bfs" -> q123Sql,
    "q81_anomaly" -> q81Sql,
    "q82_join_card" -> q82Sql,
    "q83_power_hist" -> q83Sql,
    "q84_pagerank" -> q84Sql,
    "q196_graph_registry_serve" -> q196Sql,
    "q102_triangles" -> q102Sql,
    "q105_kcore" -> q105Sql,
    "q111_ppr" -> q111Sql,
    "q117_group_power_hist" -> q117Sql,
    "q119_pagerank_fix" -> q119Sql)
}
