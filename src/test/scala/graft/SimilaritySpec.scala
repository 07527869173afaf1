package graft

import graft.ext.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sf, "embeddings")

  test("brute-force top-k: ranks are 1..k, self excluded, cos in [-1,1]") {
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3), "vec_id", "embedding", 5)
      .collect()
    assert(out.length == 15)
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    }
    assert(out.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    assert(out.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0))
  }

  test("multi-table LSH recovers planted near-duplicates with high recall") {
    // 30 well-separated base vectors + a noisy copy of each (cos ≈ 0.999).
    // For such pairs each hyperplane agrees w.h.p., so some 8-bit table
    // collides and the exact re-scoring puts the twin at rank 1.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val base = (0 until 30).map(i => (i.toLong, vec()))
    val dups = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val top1 = Similarity.approxTopK(df, "vec_id", "embedding", $"id" >= 1000L, 1)
      .filter($"rank" === 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val hits = top1.count { case (q, n) => n == q - 1000L }
    info(s"planted-twin top-1 recall: $hits/30")
    assert(hits >= 27)
  }

  test("LSH near-dup pairs: exact precision, full recall on planted twins") {
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val base = (0 until 25).map(i => (i.toLong, vec()))
    val dups = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + (rnd.nextDouble() * 0.01 - 0.005).toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val viaLsh = Similarity.lshNearDupPairs(df, "vec_id", "embedding", minCos = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.exactNearDupPairs(df, "vec_id", "embedding", minCos = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaLsh.subsetOf(exact))      // exact precision
    assert(exact.subsetOf(viaLsh))      // full recall on cos>=0.99 twins
    assert(viaLsh.size == 25)
  }

  test("blocked near-dup equi-join is pair-for-pair identical to the all-pairs baseline") {
    // the q24 plan shape: balanced block-pair equi-join must lose no
    // pair and invent none, at a LOOSE threshold where pairs span
    // blocks arbitrarily; compare against the BNLJ baseline on the
    // real embeddings table, bit-exact on cos
    val blocked = Similarity.blockedNearDupPairs(emb, "vec_id", "embedding", minCos = 0.3, blocks = 5)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.exactNearDupPairs(emb, "vec_id", "embedding", minCos = 0.3)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)].collect().toSet
    assert(blocked == exact, s"diff: ${(blocked diff exact) ++ (exact diff blocked)}")
    assert(blocked.nonEmpty)
    assert(blocked.forall { case (a, b, _) => a < b })
  }

  test("blocked near-dup plans as an equi-join: no BNLJ, no cartesian") {
    val plan = Similarity.blockedNearDupPairs(emb, "vec_id", "embedding", minCos = 0.45)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IVF assignment: every vector gets exactly one cluster from the seed set") {
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", nClusters = 8)
    assert(assigned.count() == emb.count())
    val clusters = assigned.select("cluster").distinct().as[Long].collect().toSet
    assert(clusters.subsetOf((0L until 8L).toSet))
    assert(assigned.groupBy("id").count().filter($"count" > 1).count() == 0)
  }

  test("array-argument expressions compare by content and explain as a stable digest") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    import graft.functions.{IvfPqLutRows, KmNearest, MinHashSig}
    val text = AttributeReference("text", StringType)()
    val codes = AttributeReference("codes", ArrayType(LongType))()
    def minhash(shift: Long) = MinHashSig(text, 5,
      Array.tabulate(512)(i => i * 7L + shift), Array.tabulate(512)(i => i * 3L), 1000003L)
    // every call allocates fresh arrays: equal contents, distinct objects
    def builds(): Seq[Expression] = Seq(minhash(1L),
      KmNearest(codes, Array(0L, 1L), Array(Array(1L, 2L), Array(3L, 4L))),
      IvfPqLutRows(codes, Array(0L, 1L), Array(Array(1L, 2L), Array(3L, 4L)),
        Array(Array(0L), Array(0L)), Array(Array(Array(1L)), Array(Array(2L))), 1, 1, 0L))
    builds().zip(builds()).foreach { case (a, b) =>
      assert(a.semanticEquals(b), s"$a vs $b")
      assert(a.hashCode == b.hashCode, a.toString)
      assert(a.toString == b.toString)
      assert(!a.toString.contains("@"), s"identity hash rendered: $a")
    }
    assert(minhash(1L).toString.contains("long[512]#"), minhash(1L).toString)
    assert(builds()(1).toString.contains("long[2][]#"), builds()(1).toString)
    // one changed coefficient is another expression with another digest
    assert(!minhash(2L).semanticEquals(minhash(1L)))
    assert(minhash(2L).toString != minhash(1L).toString)
  }
}
