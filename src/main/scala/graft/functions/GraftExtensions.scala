package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** Installs the engine's native expressions under their SQL-text names:
  * `SparkSession.builder().withExtensions(new GraftExtensions)`, which
  * [[graft.LocalSessions.create]] does. Spark rebuilds the function
  * registry of every `newSession()` child from the same extensions, so
  * the names resolve in any session of that lineage, whatever ran
  * before. Column code never needs them: the helpers in
  * [[GraftFunctions]] and [[VectorFunctions]] build the expressions
  * directly. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  /** The one table of SQL names. The builders check outside SQL input
    * (arity, literal-only parameters) and build the same expressions
    * the Column helpers do. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn[VecDot]("vecdot")(e => VecDot(e(0), e(1))),
    fn[ArrayJaccard]("array_jaccard")(e => ArrayJaccard(e(0), e(1))),
    fn[CharShingles]("char_shingles")(e => CharShingles(e(0), litInt(e(1)))),
    fn[HashedShingles]("hashed_shingles")(e =>
      HashedShingles(e(0), litInt(e(1)), litLong(e(2)))),
    fn[ArrayJaccardLong]("array_jaccard_long")(e => ArrayJaccardLong(e(0), e(1))),
    fn[ArrayIntersectSizeLong]("array_intersect_size_long")(e =>
      ArrayIntersectSizeLong(e(0), e(1))),
    // the coefficient set every caller uses: MinHashLsh's n = 8, A, B, P
    fn[MinHashSig]("minhash_sig")(e => MinHashSig(e.head, 8,
      graft.ext.MinHashLsh.A.toArray, graft.ext.MinHashLsh.B.toArray, graft.ext.MinHashLsh.P)),
    fn[PolyHash]("polyhash") { e =>
      if (e.length != 2)
        throw new IllegalArgumentException(
          s"polyhash expects (text, mod), got ${e.length} arguments")
      PolyHash(e.head, e(1) match {
        case Literal(v: Long, _) => v
        case Literal(v: Int, _) => v.toLong
        case other => throw new IllegalArgumentException(s"polyhash mod must be a literal, got $other")
      })
    },
    fn[SimHash32]("simhash32")(e => SimHash32(e.head)),
    fn[GramStats]("gram_stats")(e => GramStats(e.head)),
    fn[TokenCounts]("token_counts")(e => TokenCounts(e.head)),
    fn[HashEmbed]("hash_embed") { e =>
      if (e.length != 2)
        throw new IllegalArgumentException(
          s"hash_embed expects (text, dims), got ${e.length} arguments")
      HashEmbed(e.head, e(1) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"hash_embed dims must be an integer literal, got $other")
      })
    },
    fn[TokenStats]("token_stats") { e =>
      if (e.length != 2)
        throw new IllegalArgumentException(
          s"token_stats expects (text, 'w1,w2,...'), got ${e.length} arguments")
      TokenStats(e.head, e(1) match {
        case Literal(v: UTF8String, _) =>
          // SQL route: comma-joined list. Words containing commas or
          // the empty string are inexpressible in this encoding, so a
          // literal that would decode lossily (empty segment from a
          // leading/trailing/double comma) is rejected rather than
          // silently altered — such watch lists need the Scala API
          // (tokenStats), which passes exact strings.
          val segs = v.toString.split(",", -1).toSeq
          if (segs.exists(_.isEmpty))
            throw new IllegalArgumentException(
              s"token_stats words literal '${v.toString}' contains an empty segment " +
                "(leading/trailing/double comma). Empty words and words containing " +
                "commas cannot be encoded in SQL — use the Scala API " +
                "(GraftFunctions.tokenStats) for exact strings.")
          segs
        case other => throw new IllegalArgumentException(
          s"token_stats words must be a string literal, got $other")
      })
    })

  private def fn[T <: Expression: ClassTag](name: String)(build: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(classTag[T].runtimeClass.getName, name), build)

  private def litInt(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"expected literal int, got $other")
  }

  private def litLong(e: Expression): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(s"expected literal long, got $other")
  }
}
