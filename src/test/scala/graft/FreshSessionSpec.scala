package graft

import graft.ext.MinHashLsh
import graft.functions.{GraftExtensions, GraftFunctions, HashUtil, VectorFunctions}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Native functions resolve by construction, not by session history:
  * each Column helper and each SQL name works in a `newSession()` that
  * has run nothing before, and the queries that use them can be the
  * first thing a session builds. */
class FreshSessionSpec extends SparkSpec {

  private val text = "the quick brown fox jumps over the lazy dog"

  /** One row holding an input column for every function. */
  private val inputs =
    s"""SELECT '$text' AS t, 'ab' AS ab, 'abcd' AS w,
       |  array(1.0d, 2.0d) AS a, array(3.0d, 4.0d) AS b,
       |  array('a', 'b') AS sa, array('b', 'c') AS sb,
       |  array(1L, 2L, 3L) AS la, array(2L, 3L, 4L) AS lb,
       |  array('a', 'b', 'a') AS toks""".stripMargin

  /** `c` over [[inputs]], in a session that has run nothing. */
  private def viaColumn(c: Column): Any =
    spark.newSession().sql(inputs).select(c).head().get(0)

  /** `sqlExpr` over [[inputs]] through `spark.sql`, in a session that
    * has run nothing. */
  private def viaSql(sqlExpr: String): Any =
    spark.newSession().sql(s"SELECT $sqlExpr FROM ($inputs) AS r").head().get(0)

  private def longs(v: Any): collection.Seq[Long] = v.asInstanceOf[collection.Seq[Long]]

  test("every vector and hash Column helper evaluates first in a fresh session") {
    val t = col("t")
    assert(viaColumn(VectorFunctions.vecdot(col("a"), col("b"))) == 11.0)
    assert(viaColumn(VectorFunctions.arrayJaccard(col("sa"), col("sb"))) == 1.0 / 3)
    assert(longs(viaColumn(MinHashLsh.signature(t))).size == MinHashLsh.K)
    assert(viaColumn(VectorFunctions.charShingles(col("w"), 2))
      .asInstanceOf[collection.Seq[String]].toSet == Set("ab", "bc", "cd"))
    val hashed = longs(viaColumn(VectorFunctions.hashedShingles(col("w"), 2, 1000000007L)))
    assert(hashed.size == 3 && hashed == hashed.sorted)
    assert(viaColumn(VectorFunctions.arrayJaccardLong(col("la"), col("lb"))) == 0.5)
    assert(viaColumn(VectorFunctions.arrayIntersectSizeLong(col("la"), col("lb"))) == 2L)
    // hand-computed: "ab" -> (97*31+98) mod m = 3105
    assert(viaColumn(GraftFunctions.polyhash(col("ab"))) == 3105L)
    assert(viaColumn(GraftFunctions.simhash32(t)) ==
      HashUtil.simHash32(UTF8String.fromString(text)))
  }

  test("every native SQL name resolves through spark.sql in a fresh session") {
    val t = col("t")
    val cases = Seq(
      "vecdot(a, b)" -> VectorFunctions.vecdot(col("a"), col("b")),
      "array_jaccard(sa, sb)" -> VectorFunctions.arrayJaccard(col("sa"), col("sb")),
      "char_shingles(w, 2)" -> VectorFunctions.charShingles(col("w"), 2),
      "hashed_shingles(t, 8, 1000000007)" -> VectorFunctions.hashedShingles(t, 8, 1000000007L),
      "array_jaccard_long(la, lb)" -> VectorFunctions.arrayJaccardLong(col("la"), col("lb")),
      "array_intersect_size_long(la, lb)" ->
        VectorFunctions.arrayIntersectSizeLong(col("la"), col("lb")),
      "minhash_sig(t)" -> MinHashLsh.signature(t),
      "polyhash(t, 1000000007)" -> GraftFunctions.polyhash(t),
      "simhash32(t)" -> GraftFunctions.simhash32(t),
      "gram_stats(t)" -> GraftFunctions.gramStats(t),
      "token_counts(toks)" -> GraftFunctions.tokenCounts(col("toks")),
      "hash_embed(t, 16)" -> GraftFunctions.hashEmbed(t, 16),
      "token_stats(t, 'the,and')" -> GraftFunctions.tokenStats(t, Seq("the", "and")))
    assert(cases.map(_._1.takeWhile(_ != '(')).toSet ==
      GraftExtensions.functions.map(_._1.funcName).toSet)
    cases.foreach { case (sqlExpr, column) =>
      assert(viaSql(sqlExpr) == viaColumn(column), sqlExpr)
    }
  }

  test("q32_ivf_assign and q73_semdedup can be the first query a session builds") {
    Seq("q32_ivf_assign", "q73_semdedup").foreach { q =>
      assert(SparkEntry.queries(q)(spark.newSession(), sf).count() > 0, q)
    }
  }
}
