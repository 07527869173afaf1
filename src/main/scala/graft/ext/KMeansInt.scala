package graft.ext

import graft.functions.VectorKernels
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lloyd k-means over integer code vectors — real IVF centroid
  * TRAINING (the step [[Similarity.ivfAssign]]'s fixed seeds skip).
  * Runs on int8 quantization codes ([[Quantize.sq8Codes]]), which is
  * how production vector indexes train coarse quantizers at scale:
  * integer squared-L2 has no rounding, so every iteration is exactly
  * reproducible across engines AND across cluster re-runs — a property
  * float k-means fundamentally lacks (reduction order changes results).
  *
  * Training is CONVERGENCE-DRIVEN: [[fitConvergedAssign]] iterates to
  * the exact assignment-set fixed point (zero changed assignments) and
  * THROWS past `maxRounds` — never a silent truncation. Lloyd's update
  * is not monotone in an engine-checkable integer certificate (unlike
  * PageRank's from-below value iteration, q119), so the certificate is
  * the assignment set itself: when no vector changes cluster, the
  * floor-mean update reproduces the centroids exactly (empty clusters
  * carry their previous centroid, which is equally stable), so zero
  * changes IS a fixed point — and every further round is a no-op,
  * which is what lets an oracle replay with ANY unroll depth ≥ the
  * observed one. Integer Lloyd can in principle oscillate instead of
  * converging; `maxRounds` turns that into a loud failure.
  *
  * Scale design: centroids are k×dim integers — CONSTANT-size state,
  * merged on the driver each round (the q128-τ one-row-stats class;
  * MLlib's k-means does exactly this) and shipped in the next round's
  * closure. So a round is ONE RDD `aggregate` job and no per-round
  * query plan: the map-only reassignment (argmin over the k centroids,
  * a lazily-checkpointed state RDD) materialized by the job that folds
  * each partition into k×dim sums plus the changed-count — no shuffle
  * at all, one k×dim partial per partition to the driver. Nothing
  * corpus-sized moves in any round; each pass reads the previous
  * state's checkpoint blocks. Empty clusters keep their previous
  * centroid, so k is stable.
  *
  * Determinism contract: ties in the argmin break toward the smaller
  * cluster id; centroid means use floor integer division (codes are
  * non-negative, so truncating and flooring division agree); initial
  * centroids come from the scalable hash-replayable seeding of
  * [[seedCents]] (hash-rank sample + farthest-first greedy), with
  * cluster ids assigned in pick order.
  */
object KMeansInt {

  /** Default fail-fast bound for [[fitConvergedAssign]], and the exact
    * unroll depth of every k-means oracle replay: with [[seedCents]]'
    * sample-refined seeds the observed fixed-point depths are ≤ 54
    * across all trained (sub)spaces at sf ≤ 0.1 (the deepest: an
    * IVF-PQ residual subspace at sf0.1; ≤ 22 at sf ≤ 0.01 — the former
    * id<k seeds reached 84), and because extra rounds past the fixed
    * point are no-ops, an oracle unrolled to exactly MaxRounds covers
    * every run the engine can complete without throwing. The wide
    * margin absorbs depth variance across data regenerations. The two
    * constants must never drift — oracles reference this value. */
  val MaxRounds = 96

  /** (id, codes array<long>) → (id, d [1-based], c) exploded. */
  def explodedCodes(codes: DataFrame): DataFrame =
    codes.select(col("id"), posexplode(col("codes")).as(Seq("d0", "c")))
      .select(col("id"), (col("d0") + 1).as("d"), col("c"))

  /** Nearest-centroid assignment: (id, cluster, dist2), dist2 = exact
    * integer Σ_d (c_d − m_d)². cent is (cluster, d, m), broadcast.
    * Used for single-pass assignment against FIXED centroid tables
    * (PQ encodeWith / LUT paths); the training loop runs the literal
    * argmin kernel instead — see [[bestOf]]. */
  def assign(expl: DataFrame, cent: DataFrame): DataFrame = {
    val byDist = Window.partitionBy(col("id")).orderBy(col("dist2"), col("cluster"))
    expl.join(broadcast(cent), Seq("d"))
      .groupBy(col("id"), col("cluster"))
      .agg(sum((col("c") - col("m")) * (col("c") - col("m"))).as("dist2"))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .select(col("id"), col("cluster"), col("dist2"))
  }

  /** struct(dist2, cluster) of the nearest of the k LITERAL centroids
    * to the `codes` array column — the row-local argmin (no join, no
    * shuffle) that defines a fit's assignment and PQ encoding: one
    * native codegen'd JVM loop per row ([[graft.functions.KmNearest]],
    * whose kernel the training rounds call directly; ties toward the
    * smaller cluster id — the same contract as [[assign]]). The HOF
    * formulation (aggregate ∘ zip_with per candidate) is interpreted
    * per element and dominated every Lloyd round. */
  def bestOf(cents: Seq[(Long, Seq[Long])], codes: Column): Column = {
    val sorted = cents.sortBy(_._1)
    val shim = org.apache.spark.sql.GraftShim
    shim.column(graft.functions.KmNearest(shim.expression(codes),
      sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray))
  }

  /** Seeding candidate-sample size: a deterministic C-row "uniform"
    * sample (the top C ids by avalanched 31-bit hash rank) from which
    * the seeds are refined. C = 256 covers O(k log n) for every gated
    * training (k = 8, n ≤ 10^6); the collected state is C×(dim+2)
    * integers — constant-size, never data-sized. Oracles replay the
    * sample as `ORDER BY h, id LIMIT C` — the two constants must
    * never drift. */
  val SeedCandidates = 256

  /** Fail-fast bound (and the oracle unroll depth) for the driver-side
    * seed mini-Lloyd over the candidate sample. Lloyd over ≤
    * [[SeedCandidates]] points converges in a handful of rounds;
    * 32 is a wide margin. */
  val SeedRounds = 32

  /** Scalable seeding (the k-means|| sample-then-refine shape, made
    * hash-replayable): ONE TakeOrdered job collects the
    * [[SeedCandidates]] hash-rank sample — top C ids by
    * [[Hll.hash31]] of the stringified id, ties to the smaller id —
    * then a driver-side farthest-first (Gonzalez) greedy spreads the k
    * seeds across the occupied code space: pick 1 = the min-(h, id)
    * candidate; pick i = the candidate whose min squared distance to
    * the already-picked is LARGEST (ties to the smaller id; picked
    * candidates stay in the pool at distance 0, so even a fully
    * degenerate sample re-picks deterministically). Cluster ids are
    * PICK ORDER (0..k−1). The picks then run mini-Lloyd ON THE SAMPLE
    * driver-side (see below) so the distributed loop starts near the
    * population fixed point, cutting total convergence depth vs the
    * former arbitrary id<k seeds (measured in STATUS.md) at the same
    * exact fixed-point contract — and the whole step replays in the
    * oracle: the sample is a C-row ORDER BY, the greedy is k−1
    * unrolled argmax CTEs over the C×C candidate-pair distances, the
    * mini-Lloyd is a [[SeedRounds]]-unrolled chain over the C
    * candidate rows. */
  private def seedCents(mat: DataFrame, k: Int): Seq[(Long, Seq[Long])] = {
    val cands = mat
      .select(col("id"), Hll.hash31(col("id").cast("string")).as("h"), col("codes"))
      .orderBy(col("h"), col("id"))
      .limit(SeedCandidates)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    require(cands.length >= k,
      s"k-means seeding needs ≥ k=$k rows; the sample has ${cands.length}")
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    val first = cands.minBy(c => (c._2, c._1))
    val picked = scala.collection.mutable.ArrayBuffer(first)
    val minD = scala.collection.mutable.Map(
      cands.map(c => c._1 -> d2(c._3, first._3)).toSeq: _*)
    while (picked.size < k) {
      val next = cands.maxBy(c => (minD(c._1), -c._1))
      picked += next
      cands.foreach(c => minD(c._1) = math.min(minD(c._1), d2(c._3, next._3)))
    }
    // refine the picks by mini-Lloyd ON THE SAMPLE (same integer
    // semantics as the distributed loop: argmin ties to the smaller
    // cluster id, floor means, empty clusters keep their previous
    // centroid, fixed point = unchanged assignment, THROW past
    // [[SeedRounds]]): the sample's converged centroids approximate
    // the population's, so the big Lloyd starts near its fixed point
    var cents: Array[Array[Long]] = picked.map(_._3.clone).toArray
    var prevAsg: Array[Int] = null
    var r = 0
    var done = false
    while (!done) {
      val asg = cands.map { c =>
        var best = 0; var bd = d2(c._3, cents(0)); var j = 1
        while (j < k) {
          val dd = d2(c._3, cents(j)); if (dd < bd) { bd = dd; best = j }; j += 1
        }
        best
      }
      if (prevAsg != null && java.util.Arrays.equals(asg, prevAsg)) done = true
      else {
        r += 1
        if (r > SeedRounds) throw new IllegalStateException(
          s"seed mini-Lloyd did not reach its fixed point in $SeedRounds rounds")
        val dim = cents(0).length
        val sums = Array.fill(k, dim)(0L); val ns = Array.fill(k)(0L)
        cands.indices.foreach { ci =>
          val cl = asg(ci); ns(cl) += 1
          var j = 0; while (j < dim) { sums(cl)(j) += cands(ci)._3(j); j += 1 }
        }
        cents = lloydUpdate(cents, sums, ns)
        prevAsg = asg
      }
    }
    cents.toSeq.zipWithIndex.map { case (m, i) => (i.toLong, m.toSeq) }
  }

  /** Lloyd's update step, the ONE definition both loops apply (the seed
    * mini-Lloyd in [[seedCents]] and the distributed rounds of
    * [[fitConvergedAssign]]): each centroid becomes the floor mean of
    * its members (`sums(cl)(d) / ns(cl)`, integer division — codes are
    * non-negative, so truncation is floor), and a cluster with no
    * members keeps its previous centroid, so k is stable. */
  private def lloydUpdate(cents: Array[Array[Long]], sums: Array[Array[Long]],
      ns: Array[Long]): Array[Array[Long]] =
    Array.tabulate(cents.length) { cl =>
      if (ns(cl) == 0L) cents(cl) else sums(cl).map(_ / ns(cl))
    }

  /** One vector's round state: its (id, codes) row, its nearest
    * centroid and exact squared distance to it, and whether the
    * reassignment that produced this state moved it. */
  private final case class Pt(row: InternalRow, cluster: Long, dist2: Long,
      changed: Boolean)

  /** Per-cluster code sums and member counts over a state, plus how
    * many of its vectors the last reassignment moved — the k×dim
    * partials one round's job merges on the driver. */
  private final class Tally(k: Int, dim: Int) extends Serializable {
    val sums: Array[Array[Long]] = Array.fill(k, dim)(0L)
    val ns: Array[Long] = new Array[Long](k)
    var changed: Long = 0L
    def add(p: Pt): Tally = {
      val cl = p.cluster.toInt
      val codes = p.row.getArray(1)
      val s = sums(cl)
      var j = 0
      while (j < dim) { s(j) += codes.getLong(j); j += 1 }
      ns(cl) += 1
      if (p.changed) changed += 1
      this
    }
    def merge(o: Tally): Tally = {
      var cl = 0
      while (cl < k) {
        var j = 0
        while (j < dim) { sums(cl)(j) += o.sums(cl)(j); j += 1 }
        ns(cl) += o.ns(cl)
        cl += 1
      }
      changed += o.changed
      this
    }
  }

  /** Converged training state: the fixed-point centroids (cluster, d,
    * m), the final assignment (id, cluster, dist2), and how many
    * update rounds it took to reach zero changed assignments. */
  final case class FitResult(centroids: DataFrame, assignment: DataFrame,
      rounds: Int)

  /** Lloyd rounds from the [[seedCents]] seeds to the EXACT assignment-set
    * fixed point (see object scaladoc): update → reassign until a
    * reassignment changes zero rows, THROW past `maxRounds` (too few
    * rounds silently degrades downstream ANN recall, so running out is
    * an error).
    *
    * A round is ONE RDD `aggregate` job and no query plan: the state
    * is an RDD of [[Pt]] whose reassignment (a narrow map running
    * [[graft.functions.VectorKernels.kmNearestElkan]], the kernel
    * [[graft.functions.KmNearest]] calls, against the round's k×dim
    * centroids shipped in the closure) is lazily `localCheckpoint`ed,
    * so the round's aggregate both materializes it (truncating the
    * lineage) and returns the k×dim sums, member counts and changed
    * count the driver merges into the next centroids
    * ([[lloydUpdate]]). The previous round's blocks are dropped once
    * the new state is materialized. Beyond the rounds, a fit runs the
    * codes checkpoint and the seed-sample collect.
    *
    * The assignment is the final state's (id, cluster, dist2),
    * presented as the checkpoint of the literal-centroid argmin over
    * the codes ([[bestOf]]) — the values that plan would compute, with
    * its statistics, partitioning and ordering — so every consumer
    * plans against the same size estimate without re-running the
    * argmin. */
  def fitConvergedAssign(codes: DataFrame, k: Int, maxRounds: Int): FitResult = {
    val spark = codes.sparkSession
    val mat = codes.select(col("id"), col("codes")).localCheckpoint(true)
    def reassign(from: RDD[Pt], cents: Array[Array[Long]]): RDD[Pt] = {
      val clusters = Array.tabulate(cents.length)(_.toLong)
      val ccd2 = VectorKernels.pairwiseD2(cents)
      val next = from.map { p =>
        val best = VectorKernels.kmNearestElkan(p.row.getArray(1), clusters, cents, ccd2)
        val cl = best.getLong(1)
        Pt(p.row, cl, best.getLong(0), cl != p.cluster)
      }
      next.localCheckpoint()
    }
    var cents = seedCents(mat, k).map(_._2.toArray).toArray
    val dim = cents(0).length
    // cluster −1 marks "unassigned", so the first reassignment changes
    // every row
    var state = reassign(
      mat.queryExecution.toRdd.map(r => Pt(r.copy(), -1L, 0L, changed = true)), cents)
    var prev: RDD[Pt] = null
    var rounds = 0
    var converged = false
    while (!converged) {
      // ONE job: materializes `state` and returns the k×dim sums and the
      // changed-count of the reassignment that produced it
      val t = state.aggregate(new Tally(k, dim))(_ add _, _ merge _)
      if (prev != null) prev.unpersist(blocking = false)
      if (rounds > 0 && t.changed == 0L) converged = true
      else {
        rounds += 1
        if (rounds > maxRounds) {
          state.unpersist(blocking = false)
          throw new IllegalStateException(
            s"k-means did not reach the assignment fixed point in $maxRounds rounds")
        }
        cents = lloydUpdate(cents, t.sums, t.ns)
        prev = state
        state = reassign(state, cents)
      }
    }
    val centSeq = cents.toSeq.zipWithIndex.map { case (m, i) => (i.toLong, m.toSeq) }
    val argmin = mat
      .withColumn("best", bestOf(centSeq, col("codes")))
      .select(col("id"), col("best.cluster").as("cluster"), col("best.dist2").as("dist2"))
    val idType = mat.schema("id").dataType
    val asg = org.apache.spark.sql.GraftShim.checkpointedAs(
      state.map(p => InternalRow(p.row.get(0, idType), p.cluster, p.dist2)), argmin)
    import spark.implicits._
    val centRows = centSeq.flatMap { case (cl, m) =>
      m.zipWithIndex.map { case (v, i) => (cl, (i + 1).toLong, v) }
    }.toDF("cluster", "d", "m")
    FitResult(centRows, asg, rounds)
  }
}
