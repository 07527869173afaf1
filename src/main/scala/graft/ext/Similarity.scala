package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north star): exact cosine
  * top-k as the baseline; random-hyperplane LSH bucketing and a fixed-
  * seed IVF partitioner as the scale paths.
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * and scans candidates once — no shuffle of the candidate table; top-k
  * is a per-query bounded top-k aggregate. The LSH/IVF paths cut the
  * scanned fraction: bucket assignment is a pure projection (codegen'd), so candidates
  * co-shuffle by bucket and only same-bucket pairs are scored. All
  * arithmetic is double with a fixed fold order so results are
  * engine-portable (oracle-checkable).
  */
object Similarity {

  /** array<float> → array<double> (all scoring in double). */
  def vecD(c: Column): Column = c.cast("array<double>")

  /** Sequential left-fold dot product — deterministic summation order,
    * native kernel ([[graft.functions.VecDot]]): Spark's `aggregate`/
    * `zip_with` HOFs are interpreted and were 30x slower. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vecdot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Each query's `k` nearest scored rows, rank 1..k by (cos DESC,
    * neighbor_id) — the one ranking every search path here ends in. */
  private def byCos(scored: DataFrame, k: Int): DataFrame =
    graft.functions.TopKFunctions.ranked(scored, Seq("query_id"),
      Seq(col("cos").desc, col("neighbor_id")), k)

  /** Exact top-k neighbors for each query row (queries small enough to
    * broadcast; candidates streamed). Output: query_id, neighbor_id,
    * rank, cos. */
  def bruteForceTopK(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cand = candidates.select(col(idCol).as("neighbor_id"), vecD(col(vecCol)).as("ce"))
      .withColumn("cnrm", norm(col("ce")))
    val q = queries.select(col(idCol).as("query_id"), vecD(col(vecCol)).as("qe"))
      .withColumn("qnrm", norm(col("qe")))
    val scored = cand.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm"))).as("cos"))
    byCos(scored, k).select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Exact all-pairs above a cosine threshold via a single inequality
    * join — the obviously-correct TINY-DATA baseline that specs compare
    * against. Plans as a broadcast nested-loop join, so it must never
    * reach a registered query: [[blockedNearDupPairs]] computes the
    * identical result through an equi-join (spec-pinned parity) and is
    * what q24 runs. */
  def exactNearDupPairs(df: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), vecD(col(vecCol)).as("e"))
      .withColumn("nrm", norm(col("e")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Exact all-pairs near-dup as a BALANCED BLOCK-PAIR equi-join — the
    * same result set as [[exactNearDupPairs]] (floating-point identical:
    * the cosine is symmetric under operand swap because IEEE multiply
    * commutes and the fold order is the dimension order either way)
    * with a plan that survives scale.
    *
    * Why not LSH blocking: at a loose threshold like cos ≥ 0.45 the
    * passing pairs sit at ~63° — on isotropic data they disagree on a
    * third of their hyperplane/coordinate signs (measured 20-27 of 64
    * on the test corpus, vs ~32 for random pairs), so NO sign/band
    * scheme can be both complete and selective; completeness would be
    * luck, not design. Exact all-pairs is inherently Θ(n²) work; the
    * scale problem to solve is the PLAN: a broadcast nested-loop join
    * ships the whole corpus to every executor (and dies at the
    * broadcast limit long before 100 TB), while a cartesian leaves the
    * quadratic work wherever the partitioning happened to put it.
    *
    * The fix is the classic balanced theta-join layout (Okcan &
    * Riedewald's 1-bucket-theta): hash every row into one of `blocks`
    * groups, enumerate the `blocks·(blocks+1)/2` unordered group pairs
    * as a constant-size broadcast table, replicate each row to the
    * pairs it participates in (block g appears as the left group in
    * `blocks-g` pairs and as the right group in `g+1` — exactly
    * `blocks+1` copies per row, balanced by construction), and let
    * candidates meet in an EQUI-join on the (gl, gr) key. Each key
    * carries ~(n/blocks)² scoring work, so the quadratic cost spreads
    * evenly over `blocks·(blocks+1)/2` reducers with O(blocks) = O(√P)
    * replication — the known optimum for an unselective theta-join —
    * and nothing data-sized is ever broadcast. Every unordered pair
    * meets exactly once: cross-group pairs once by construction,
    * same-group pairs deduped by the id order filter. */
  def blockedNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(idCol).as("id"), vecD(col(vecCol)).as("e"))
      .withColumn("nrm", norm(col("e")))
      .withColumn("g", pmod(hash(col("id")), lit(blocks)))
    val groupPairs = (0 until blocks)
      .flatMap(i => (i until blocks).map(j => (i, j))).toDF("gl", "gr")
    val left = v.join(broadcast(groupPairs), col("g") === col("gl"))
      .select(col("gl"), col("gr"),
        col("id").as("id_l"), col("e").as("el"), col("nrm").as("nl"))
    val right = v.join(broadcast(groupPairs), col("g") === col("gr"))
      .select(col("gl"), col("gr"),
        col("id").as("id_r"), col("e").as("er"), col("nrm").as("nr"))
    left.join(right, Seq("gl", "gr"))
      .filter(col("gl") =!= col("gr") || col("id_l") < col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        (dot(col("el"), col("er")) / (col("nl") * col("nr"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  // --- random-hyperplane LSH ---------------------------------------

  val LshBits = 16
  val Dim = 64

  /** Deterministic pseudo-random projection component in [-0.5, 0.5):
    * LCG over the flattened (plane, dim) index — reproducible in SQL. */
  def projComponent(plane: Int, d: Int): Double =
    ((1103515245L * (plane * Dim + d + 1) + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5

  private def planeLit(plane: Int): Column =
    typedLit((0 until Dim).map(d => projComponent(plane, d)))

  /** 16-bit sign bucket: bit i set iff proj_i · e > 0. */
  def lshBucket(vec: Column): Column =
    (0 until LshBits).map(i =>
      when(dot(vec, planeLit(i)) > 0.0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  def withBuckets(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    df.select(col(idCol).as("id"), vecD(col(vecCol)).as("e"))
      .withColumn("bucket", lshBucket(col("e")))
  }

  /** Shared banded-bucket layout: one row per (vector, band) with the
    * band's bucket value. `v` must carry id/e/nrm (plus whatever extra
    * columns `bucketFn` reads); the output keeps only id/e/nrm/t/bv. */
  private def bandedBuckets(v: DataFrame, bands: Int, bucketFn: Int => Column): DataFrame =
    v.select(col("id"), col("e"), col("nrm"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("t"), bucketFn(b).as("bv"))): _*)).as("tb"))
      .select(col("id"), col("e"), col("nrm"),
        col("tb.t").as("t"), col("tb.bv").as("bv"))

  /** Shared candidate stage: broadcast the bucketed query rows, collide
    * on (band, bucket) — an EQUI-join — dedup id pairs, score with the
    * exact cosine, rank, keep top-k. Used by every banded ANN variant. */
  private def bucketedTopK(bucketed: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = bucketed.filter(queryPred)
    val cand = bucketed.as("c").join(broadcast(q).as("q"),
        col("c.t") === col("q.t") && col("c.bv") === col("q.bv") &&
          col("c.id") =!= col("q.id"))
      .select(col("q.id").as("query_id"), col("q.e").as("qe"), col("q.nrm").as("qnrm"),
        col("c.id").as("neighbor_id"), col("c.e").as("ce"), col("c.nrm").as("cnrm"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      (dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm"))).as("cos"))
    byCos(scored, k).select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Multi-table hyperplane bucketing: one row per (vector, table) with
    * the table's sign-bucket. Used by [[approxTopK]] and [[lshNearDupPairs]]. */
  private def multiTableBuckets(
      df: DataFrame, idCol: String, vecCol: String,
      tables: Int, bitsPerTable: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), vecD(col(vecCol)).as("e"))
      .withColumn("nrm", norm(col("e")))
    bandedBuckets(v, tables, t =>
      (0 until bitsPerTable).map(i =>
        when(dot(col("e"), planeLit(t * bitsPerTable + i)) > 0.0, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _))
  }

  /** Approximate top-k via multi-table LSH: `tables` independent hash
    * tables of `bitsPerTable` hyperplane signs each; candidates are
    * pairs colliding in ANY table (union, deduped), then scored exactly.
    * A single wide bucket (q23) is too selective for weakly-clustered
    * data — multiple narrow tables trade candidate count for recall,
    * the standard production ANN layout. At scale each table is a
    * co-partitioned equi-join on (table, bucket); candidates per query
    * ≈ tables · n/2^bits, tunable independently of recall per table. */
  def approxTopK(
      df: DataFrame, idCol: String, vecCol: String, queryPred: Column, k: Int,
      tables: Int = 4, bitsPerTable: Int = 8): DataFrame = {
    bucketedTopK(multiTableBuckets(df, idCol, vecCol, tables, bitsPerTable), queryPred, k)
  }

  /** Hard-negative mining — for each query vector, the top-k most
    * similar candidates with a DIFFERENT label (the contrastive-
    * training data op: the negatives that look most like positives are
    * the ones worth training on). Same broadcast-queries/stream-
    * candidates shape as [[bruteForceTopK]] with the label inequality
    * fused into the join condition, so cross-label pairs are never
    * materialized; the LSH/IVF candidate paths compose in front of it
    * the same way they do for top-k. */
  def hardNegatives(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val cand = candidates.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"), vecD(col(vecCol)).as("ce"))
      .withColumn("cnrm", norm(col("ce")))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"), vecD(col(vecCol)).as("qe"))
      .withColumn("qnrm", norm(col("qe")))
    val scored = cand.join(broadcast(q), col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"),
        (dot(col("qe"), col("ce")) / (col("qnrm") * col("cnrm"))).as("cos"))
    byCos(scored, k)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label", "rank", "cos")
  }

  /** Embedding near-dup at scale: multi-table LSH candidates (narrow
    * tables unioned — same layout as [[approxTopK]]) verified with the
    * exact cosine, keeping only pairs ≥ `minCos`. Precision is exact
    * (every emitted pair passed the true cosine test); recall is the
    * LSH collision probability, ~1 for true near-dups (cos→1 means all
    * hyperplane signs agree) — spec-measured against
    * [[exactNearDupPairs]]. The all-pairs join never happens. */
  def lshNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, minCos: Double,
      tables: Int = 4, bitsPerTable: Int = 8): DataFrame = {
    val bucketed = multiTableBuckets(df, idCol, vecCol, tables, bitsPerTable)
    // dedup candidate id pairs BEFORE scoring: true near-dups collide in
    // ~every table, so scoring first would pay the dot product `tables`
    // times per pair and shuffle both vectors with each copy
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val v = bucketed.select("id", "e", "nrm").dropDuplicates("id")
    cand
      .join(v.select(col("id").as("id_a"), col("e").as("ea"), col("nrm").as("na")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("e").as("eb"), col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Sign-band LSH top-k for embeddings whose coordinate signs already
    * carry the locality signature — e.g. `hash_embed`'s hashing-trick
    * vectors, where sign(e[d]) IS the d-th SimHash bit. Bucket = the
    * packed sign bits of one band of dimensions; candidates collide in
    * ANY band (pigeonhole: vectors disagreeing on < bands sign bits
    * share at least one full band), then exact cosine + rank.
    *
    * Unlike [[approxTopK]] there are no hyperplane dot products at all:
    * band bucketing is a pure codegen'd projection, and candidates meet
    * in a broadcast EQUI-join on (band, bucket) — the scale path for
    * raw-text ANN (q94's brute-force twin). Zero-norm vectors are
    * excluded (their cosine is undefined). */
  def signBandTopK(
      df: DataFrame, idCol: String, vecCol: String, queryPred: Column, k: Int,
      bands: Int = 2, bitsPerBand: Int = 8): DataFrame = {
    val need = bands * bitsPerBand
    // fail FAST and loudly on short vectors: without the guard, ANSI-off
    // sessions would read nulls past the array end, every band-1 bucket
    // would collapse to 0, and the equi-join would silently degenerate
    // into the all-pairs scan this function exists to avoid
    val v = df.select(col(idCol).as("id"),
        when(size(col(vecCol)) >= need, col(vecCol)).otherwise(raise_error(concat(
          lit(s"signBandTopK: vector of "), size(col(vecCol)).cast("string"),
          lit(s" dims cannot fill $bands bands x $bitsPerBand bits")))).as("raw"))
      .withColumn("e", vecD(col("raw")))
      .withColumn("nrm", norm(col("e")))
      .filter(col("nrm") > 0.0)
    def bandBucket(b: Int): Column =
      (0 until bitsPerBand).map(i =>
        when(element_at(col("raw"), b * bitsPerBand + i + 1) > 0, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _)
    bucketedTopK(bandedBuckets(v, bands, bandBucket), queryPred, k)
  }

  // --- IVF-flat with fixed seeds ------------------------------------

  /** Assign each vector to the nearest of the first `nClusters` vectors
    * (deterministic seeds — no iterative training, reproducible
    * anywhere). Returns (id, e, cluster). At scale: seeds broadcast,
    * assignment is one scan; probing reads only the target cluster's
    * partition (write the output partitioned by cluster). */
  /** The shared seed (coarse-centroid) table — ONE definition used by
    * both assignment and probe ranking; if these diverged, queries
    * would rank clusters against different centroids than candidates
    * were assigned to and recall would silently collapse. */
  private def ivfSeeds(df: DataFrame, idCol: String, vecCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), vecD(col(vecCol)).as("e"))
      .withColumn("nrm", norm(col("e")))
      .orderBy("id").limit(n)
      .select(col("id").as("seed_id"), col("e").as("se"), col("nrm").as("snrm"))

  /** CONTRACT NOTES (r19): construction is EAGER — the seed collect
    * below scans `df` at DataFrame-BUILD time, and an empty corpus
    * throws here rather than returning an empty frame (the pre-r18
    * crossJoin shape deferred both; callers that build speculative
    * plans must guard). The seeds are inlined as nClusters×dim
    * expression literals, sized for the coarse-quantizer range this
    * engine uses (nClusters ≤ 16, dim ≤ 64 ⇒ ≤ 1024 literals); far
    * past that, codegen can fall back to interpreted evaluation — at
    * which point a broadcast-join assignment (the pre-r18 shape, one
    * exchange of corpus×nClusters rows) becomes the right trade
    * again. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String, nClusters: Int): DataFrame = {
    val seeds = ivfSeeds(df, idCol, vecCol, nClusters).collect()
    require(seeds.nonEmpty, "ivfAssign needs a non-empty corpus")
    ivfAssignWithSeeds(df, idCol, vecCol, seeds)
  }

  /** [[ivfAssign]] against an already-collected seed table — so a
    * caller that needs the seeds for ITS OWN row-local arithmetic too
    * ([[ivfSearch]]'s probe ranking) pays the seed scan once, not per
    * consumer. */
  private def ivfAssignWithSeeds(df: DataFrame, idCol: String, vecCol: String,
      seeds: Array[org.apache.spark.sql.Row]): DataFrame = {
    val v = df.select(col(idCol).as("id"), vecD(col(vecCol)).as("e"))
      .withColumn("nrm", norm(col("e")))
    // nClusters driver-side seed rows (the loaded-globals class): the
    // nearest-seed argmax is then a ROW-LOCAL codegen'd expression —
    // array_max over (cos, −seed_id) structs reproduces the former
    // (cos DESC, seed_id ASC) window order exactly (Spark's one binary
    // struct ordering on both paths, NaN-largest included). The old
    // crossJoin+window shape duplicated every VECTOR nClusters× through
    // a per-id exchange+sort just to pick its maximum — corpus×16
    // array rows shuffled for a decision that needs no shuffle at all.
    val cands = seeds.toIndexedSeq.map { r =>
      val se = r.getSeq[Double](1)
      struct(
        (dot(col("e"), typedlit(se)) / (col("nrm") * lit(r.getDouble(2)))).as("cos"),
        (lit(0) - lit(r.get(0))).as("nseed"))
    }
    v.withColumn("best", array_max(array(cands: _*)))
      .select(col("id"), col("e"), col("nrm"),
        (lit(0) - col("best.nseed")).as("cluster"))
  }

  /** Full IVF ANN search: assign all candidates to their nearest seed
    * cluster, rank each query's clusters, probe only the `nProbe`
    * nearest, score exactly within the probed slice, take top-k.
    *
    * This is the scan-fraction contract of an IVF index: each query
    * reads ~nProbe/nClusters of the corpus instead of all of it.
    * At scale the assignment is written once, partitioned by cluster
    * (see [[ivfAssign]]) so a probe is a partition-pruned read; here the
    * probed set rides a broadcast join on the cluster id, so the
    * candidate table is scanned once for all queries with no shuffle.
    * Recall is spec-measured against [[bruteForceTopK]]. */
  def ivfSearch(
      candidates: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nClusters: Int = 16, nProbe: Int = 4): DataFrame = {
    // ONE driver-side seed collect serves BOTH the corpus assignment
    // and the per-query probe ranking (r18 made the assignment
    // row-local; the probe ranking still re-scanned the corpus for the
    // seed table, broadcast it, and ranked through a window — for a
    // ≤ nClusters-row decision each query can make in-row). The probe
    // top-nProbe is sort_array DESC over (pcos, −seed_id) structs +
    // slice: identical selection to the former (pcos DESC, seed_id ASC)
    // row_number window (same binary struct ordering, NaN-largest
    // first under DESC on both paths).
    val seeds = ivfSeeds(candidates, idCol, vecCol, nClusters).collect()
    require(seeds.nonEmpty, "ivfSearch needs a non-empty candidate corpus")
    val assigned = ivfAssignWithSeeds(candidates, idCol, vecCol, seeds)
    val q = queries.select(col(idCol).as("query_id"), vecD(col(vecCol)).as("qe"))
      .withColumn("qnrm", norm(col("qe")))
    val pcands = seeds.toIndexedSeq.map { r =>
      val se = r.getSeq[Double](1)
      struct(
        (dot(col("qe"), typedlit(se)) / (col("qnrm") * lit(r.getDouble(2)))).as("pcos"),
        (lit(0) - lit(r.get(0))).as("nseed"))
    }
    val probed = q
      .select(col("query_id"), col("qe"), col("qnrm"),
        explode(slice(sort_array(array(pcands: _*), asc = false),
          1, nProbe)).as("p"))
      .select(col("query_id"), col("qe"), col("qnrm"),
        (lit(0) - col("p.nseed")).as("cluster"))
    val scored = assigned.join(broadcast(probed), Seq("cluster"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(col("qe"), col("e")) / (col("qnrm") * col("nrm"))).as("cos"))
    byCos(scored, k).select("query_id", "neighbor_id", "rank", "cos")
  }
}
