package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Distributed connected components over an edge list — the clustering
  * step that turns near-duplicate PAIRS (MinHash/SimHash/embedding) into
  * duplicate GROUPS, so a cleaner can keep one representative per
  * component (north star: dedup at 100 TB).
  *
  * Algorithm: hash-min label propagation with pointer jumping. Each
  * round every vertex takes the minimum label among {itself, its
  * neighbors} (one shuffle over the edge list), then follows its own
  * label's label (`label ← label(label)`, a second self-join) — the
  * pointer-jumping step halves chain depth each round, giving
  * O(log diameter) rounds instead of O(diameter). This is the
  * DataFrame-native version of the large-star/small-star technique
  * (Kiveris et al., "Connected Components in MapReduce and Beyond").
  *
  * Scale design: state per round is one (id, label) table — 16 bytes
  * per EDGE-ENDPOINT vertex (isolated vertices never change label and
  * join the output self-labeled at the end, instead of riding every
  * round's shuffles) — and the edge list is reused cached; each round
  * is two equi-join shuffles, no driver-side graph. `localCheckpoint`
  * truncates the iterative lineage so plans don't grow with round
  * count. The convergence probe is a sum of labels (cheap aggregate).
  *
  * Small edge lists skip the jobs: one count job decides, and an
  * edge list of at most [[DriverEdgeBound]] rows is collected and run
  * through the SAME rounds on in-memory arrays ([[driverRounds]]) —
  * same step, same jump, same `maxIter`, same stop, so the labels are
  * identical either way, partial labels included. Above the bound the
  * distributed loop runs as before, plus that one count job. The bound
  * caps what the driver holds; see [[DriverEdgeBound]] for the
  * measurement behind it.
  */
object ConnectedComponents {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Rows of the symmetric, deduplicated edge list up to which the
    * rounds run on the driver ([[driverRounds]]) instead of as Spark
    * jobs: 2^21 = 2,097,152 rows. It is a cap on what the driver holds,
    * not a speed crossover: the driver path was faster at every size
    * measured, so the distributed loop exists only for edge lists above
    * the cap. At the cap the driver path holds at most about 70 bytes
    * of primitive arrays per row at once (≈ 150 MB), plus the labels it
    * returns (about 40 bytes per endpoint).
    *
    * Measured in local[4] on 4 cores in a 4 GB JVM unless noted, the
    * whole `assign` timed (the edge-list build included), on random
    * graphs of 8-vertex groups:
    * 235k rows, driver path 2.7-5.2 s against 10.3-14.5 s for the
    * distributed loop; 939k rows, 6.2-8.0 s against 24-25 s; 2.10M
    * rows in a 3 GB JVM (the heap the benchmark gives the program), the
    * driver path 16-21 s while the distributed loop failed (its label
    * joins could not build their broadcast); 3.76M rows in a 4 GB JVM,
    * 23-24 s against 77-89 s. So 2^21 is about the largest edge list
    * shown to fit the driver path in a 3 GB driver. The gated near-dup
    * graphs sit far below it (q47 sf0.01: 50 rows; sf0.1: 514;
    * factor-10 clones of sf0.1: 501,400). */
  private val DriverEdgeBound = 1L << 21

  /** Label every vertex with the smallest vertex id reachable from it.
    *
    * Pointer jumping halves chain depth per round, so `maxIter` rounds
    * resolve components of diameter ~2^maxIter; if the loop exits
    * without converging the labels are PARTIAL (under-clustered). That
    * case logs a warning, and callers that must not proceed on partial
    * labels can pass `requireConvergence = true` to fail fast instead.
    *
    * @param vertices one column `idCol`; isolated vertices keep their
    *                 own id as the component label
    * @param edges    undirected edge list in (`srcCol`, `dstCol`)
    * @return (id, cluster_id)
    */
  def assign(
      vertices: DataFrame,
      idCol: String,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      requireConvergence: Boolean = false): DataFrame =
    assignBounded(vertices, idCol, edges, srcCol, dstCol, maxIter,
      requireConvergence, DriverEdgeBound)

  /** [[assign]] with the driver-path bound as a parameter, so specs can
    * force either path on the same input. */
  private[graft] def assignBounded(
      vertices: DataFrame,
      idCol: String,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int,
      requireConvergence: Boolean,
      driverEdges: Long): DataFrame = {
    val vertexIds = vertices.select(col(idCol).as("vid"))
    // restrict edges to the vertex set ONCE, up front: the fused
    // message-union round below would otherwise manufacture label rows
    // for edge endpoints outside `vertices` (the pre-fusion left join
    // dropped them implicitly), breaking the output-ids ⊆ vertices
    // contract and bridging components through unknown endpoints
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .join(vertexIds.withColumnRenamed("vid", "src"), Seq("src"), "left_semi")
      .join(vertexIds.withColumnRenamed("vid", "dst"), Seq("dst"), "left_semi")
      .distinct()
      .cache()
    // the distributed loop's labels keep the edge list's id type, so the
    // driver path decides on, and casts back to, that type
    val edgeType = sym.schema("src").dataType
    val integral = Seq(ByteType, ShortType, IntegerType, LongType).contains(edgeType)
    val onDriver = integral &&
      sym.select(col("src")).queryExecution.toRdd.count() <= driverEdges
    val (labels, endpoints, converged) =
      if (onDriver) driverRounds(sym, edgeType, maxIter) else distributedRounds(sym, maxIter)
    sym.unpersist()
    if (!converged) {
      val msg = s"ConnectedComponents.assign did not converge in $maxIter rounds; " +
        "labels are partially propagated (components may be split). " +
        "Raise maxIter (rounds needed ~ log2(graph diameter))."
      if (requireConvergence) throw new IllegalStateException(msg)
      log.warn(msg)
    }
    // isolated vertices self-label (the scaladoc contract); distinct
    // mirrors the round-1 groupBy dedup the endpoint side went through
    labels.unionByName(
      vertexIds.join(endpoints, Seq("vid"), "left_anti").distinct()
        .select(col("vid").as("id"), col("vid").as("cluster_id")))
  }

  /** The distributed round loop over the cached symmetric edge list
    * `sym` (src, dst): (endpoint labels (id, cluster_id), endpoints
    * (vid), converged). */
  private def distributedRounds(sym: DataFrame, maxIter: Int)
      : (DataFrame, DataFrame, Boolean) = {
    def labelSum(df: DataFrame): Any =
      df.agg(org.apache.spark.sql.functions.sum(
        col("cluster_id").cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head.get(0)
    // iterate ONLY over edge-endpoint vertices (shuffle fewer bytes):
    // an isolated vertex receives no hash-min messages and its jump
    // resolves to itself, so its label equals its id in EVERY round —
    // carrying it through the loop just shuffles dead rows. On a dedup
    // corpus, endpoints ≪ vertices (near-dup pairs are sparse), so the
    // per-round exchanges shrink from corpus-sized to endpoint-sized;
    // isolated vertices join the output self-labeled at the end. Round
    // count is unchanged by construction: isolated vertices contributed
    // a CONSTANT to every round's convergence sum.
    // (eagerly checkpointed: the returned plan's isolated-vertex
    // anti-join reads it AFTER the caller unpersists sym)
    val endpoints = sym.select(col("src").as("vid")).distinct() // sym is symmetric: src covers both ends
      .localCheckpoint(true)
    var labels = endpoints.select(col("vid").as("id"), col("vid").as("cluster_id"))
      .localCheckpoint()
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    // ONE hash-min + jump per materialization+probe, deliberately:
    // batching two steps per round (PageRank's ranksToFixpointOn
    // recipe) was measured in the r18 optimization round and REVERTED
    // (q73 2.3 → 5-6.5 s). Mechanism: the pointer-jump step SELF-JOINS
    // its own unmaterialized input, so inside one batched plan the
    // unbatched first step's subtree executes multiple times — the
    // opposite of PageRank's linear (single-reference) step shape.
    while (!converged && round < maxIter) {
      // hash-min: label ← min(label, min over neighbors' labels).
      // Formulated as message-union + ONE groupBy (each vertex's own
      // label is just another message), not groupBy + left join — one
      // shuffle on `id` instead of a grouped aggregate joined back.
      // both union children project to FRESH aliases: reusing `labels`'
      // attributes in both branches trips Catalyst's union constraint
      // propagation (NoSuchElementException on the rewritten attribute)
      val fromNeighbors = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("mid"), col("cluster_id").as("mlab"))
      val own = labels.select(col("id").as("mid"), col("cluster_id").as("mlab"))
      val stepped = fromNeighbors.unionByName(own)
        .groupBy(col("mid")).agg(min("mlab").as("cluster_id"))
        .select(col("mid").as("id"), col("cluster_id"))
      // pointer jump: label ← min(label, label(label))
      // non-eager localCheckpoint: the convergence probe right below is
      // the first action, so the round's labels materialize DURING the
      // sum job (one job per round, not a checkpoint job plus a probe
      // job) while still truncating the iterative lineage
      val next = stepped.as("u")
        .join(stepped.select(col("id").as("jid"), col("cluster_id").as("jlab")).as("l"),
          col("u.cluster_id") === col("jid"), "left")
        .select(col("u.id").as("id"),
          least(col("u.cluster_id"), coalesce(col("jlab"), col("u.cluster_id"))).as("cluster_id"))
        .localCheckpoint(eager = false)
      // labels only ever decrease, so an unchanged (exact decimal) sum
      // means NO label moved — a one-table aggregate instead of a
      // join-based diff for the convergence probe
      val sum = labelSum(next)
      labels = next
      converged = sum == prevSum
      prevSum = sum
      round += 1
    }
    (labels, endpoints, converged)
  }

  /** The same rounds as [[distributedRounds]] on in-memory arrays, for
    * an edge list of at most [[DriverEdgeBound]] rows: one job collects
    * `sym`, then every round is the same hash-min step, the same pointer
    * jump, the same `maxIter` bound and the same stop, so the labels
    * are the distributed loop's in every case, partial (non-converged)
    * labels included. (A union-find would always converge, so it could
    * not reproduce a `maxIter`-limited run.) Endpoints are renumbered by
    * ascending id, so a label is an index and index order is id order.
    * `edgeType`, the type of `sym`'s columns, is integral. */
  private def driverRounds(sym: DataFrame, edgeType: DataType, maxIter: Int)
      : (DataFrame, DataFrame, Boolean) = {
    val parts = sym.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        val src = Array.newBuilder[Long]
        val dst = Array.newBuilder[Long]
        it.foreach { r => src += r.getLong(0); dst += r.getLong(1) }
        Iterator((src.result(), dst.result()))
      }.collect()
    val srcIds = parts.flatMap(_._1)
    // sym is symmetric: its sources are all the endpoints. Sorted and
    // deduplicated in place on primitives (`distinct` would box every id)
    val ids = {
      val sorted = srcIds.sorted
      var n = 0
      for (v <- sorted) if (n == 0 || v != sorted(n - 1)) { sorted(n) = v; n += 1 }
      java.util.Arrays.copyOf(sorted, n)
    }
    val src = srcIds.map(java.util.Arrays.binarySearch(ids, _))
    val dst = parts.flatMap(_._2).map(java.util.Arrays.binarySearch(ids, _))
    var labels = Array.range(0, ids.length)
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // hash-min: label ← min(label, min over neighbors' labels)
      val stepped = labels.clone()
      var e = 0
      while (e < src.length) {
        val l = labels(src(e))
        if (l < stepped(dst(e))) stepped(dst(e)) = l
        e += 1
      }
      // pointer jump: label ← min(label, label(label))
      val next = stepped.map(l => math.min(l, stepped(l)))
      // labels only ever decrease, so the distributed loop's unchanged
      // label sum holds exactly when no label moved
      converged = java.util.Arrays.equals(next, labels)
      labels = next
      round += 1
    }
    val spark = sym.sparkSession
    import spark.implicits._
    // the two frames carry the size estimates the distributed path's do,
    // so consumers plan the same joins: the labels are RDD-backed (no
    // estimate, like the checkpointed join), the endpoints a local
    // relation (exact and small, like the checkpointed distinct, so the
    // isolated-vertex anti-join stays a broadcast)
    val labeled = spark.sparkContext
      .parallelize(ids.indices.map(v => (ids(v), ids(labels(v)))))
      .toDF("id", "cluster_id")
      .select(col("id").cast(edgeType), col("cluster_id").cast(edgeType))
    (labeled, ids.toSeq.toDF("vid").select(col("vid").cast(edgeType)), converged)
  }
}
