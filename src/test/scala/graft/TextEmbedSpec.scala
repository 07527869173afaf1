package graft

import graft.functions.{GraftFunctions, HashUtil}
import graft.ext.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Feature-hashed text embeddings (q93/q94): the hashing-trick signed
  * projection must match a hand computation, tokenize exactly like the
  * other text kernels, and plug into the similarity operators. */
class TextEmbedSpec extends SparkSpec {
  import spark.implicits._

  private def embed(s: String, dims: Int): Seq[Long] =
    HashUtil.hashEmbed(UTF8String.fromString(s), dims).toLongArray().toSeq

  test("kernel matches the per-token bit-sign hand computation") {
    // h("a") = 97 = 0b1100001: bits 0,5,6 set
    assert(embed("a", 8) == Seq(1L, -1L, -1L, -1L, -1L, 1L, 1L, -1L))
    // two tokens sum their signs: h("b") = 98 = 0b1100010 (bits 1,5,6)
    assert(embed("a b", 8) == Seq(0L, 0L, -2L, -2L, -2L, 2L, 2L, -2L))
    // repeated tokens weight by count
    assert(embed("a a b", 3) == Seq(1L, -1L, -3L))
  }

  test("empty and all-space text embed to the zero vector") {
    assert(embed("", 4) == Seq(0L, 0L, 0L, 0L))
    assert(embed("   ", 4) == Seq(0L, 0L, 0L, 0L))
  }

  test("tokenization matches the TextKernel split (tabs keep empty lead token)") {
    // "\ta" strips no tab → split yields ["", "a"]; h("") = 0 contributes
    // -1 everywhere, matching the other kernels' (and DuckDB's) split
    assert(embed("\ta", 2) == Seq(1L - 1L, -1L - 1L))
  }

  test("Column and SQL routes agree with the kernel") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "delta")).toDF("id", "text")
    val viaColumn = df.select($"id", GraftFunctions.hashEmbed($"text", 16).as("e"))
      .as[(Long, Seq[Long])].collect().toMap
    df.createOrReplaceTempView("ted")
    val viaSql = spark.sql("SELECT id, hash_embed(text, 16) AS e FROM ted")
      .as[(Long, Seq[Long])].collect().toMap
    for ((id, text) <- Seq(1L -> "alpha beta gamma", 2L -> "delta")) {
      assert(viaColumn(id) == embed(text, 16))
      assert(viaSql(id) == embed(text, 16))
    }
  }

  test("embeddings feed the similarity stack: self-cosine is 1") {
    val df = Seq((1L, "the quick brown fox"), (2L, "jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val emb = df.select($"doc_id", GraftFunctions.hashEmbed($"text", 16).as("e"))
    val cos = emb.select(
      (Similarity.dot(Similarity.vecD($"e"), Similarity.vecD($"e")) /
        (Similarity.norm(Similarity.vecD($"e")) * Similarity.norm(Similarity.vecD($"e"))))
        .as("c")).as[Double].collect()
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("dims outside [1, 31] are rejected") {
    intercept[IllegalArgumentException] { embed("x", 0) }
    intercept[IllegalArgumentException] { embed("x", 32) }
  }

  test("sign-band LSH (q95) recalls the brute-force top-3 (q94) on real docs") {
    val brute = graft.queries.EmbeddingQueries.q94TextAnn(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = graft.queries.EmbeddingQueries.q95TextAnnLsh(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"sign-band recall@3 $recall vs brute force (want >= 0.5)")
  }

  test("signBandTopK fails fast on vectors too short for the band layout") {
    val tiny = Seq((1L, Seq(1L, -1L, 2L, -2L)), (2L, Seq(3L, 1L, -1L, 2L)))
      .toDF("id", "e") // 4 dims, default layout needs 16
    val ex = intercept[Exception] {
      Similarity.signBandTopK(tiny, "id", "e", col("id") < 2, k = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("cannot fill 2 bands x 8 bits")),
      s"wrong failure: $ex")
  }

  test("q95's candidate join is a broadcast EQUI-join, not a nested loop") {
    val p = graft.queries.EmbeddingQueries.q95TextAnnLsh(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"candidate join degenerated to BNLJ:\n$p")
  }
}
