package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion (Cormack et al.) — the standard way to merge
  * rankings from incomparable retrievers (sparse BM25 scores vs dense
  * cosine similarities) WITHOUT calibrating their score scales: each
  * list contributes 1/(K + rank) for the documents it ranked, so only
  * rank positions matter.
  *
  * Exact-integer discipline: the contribution is the fixed-point
  * `Scale DIV (K + rank)` — truncating division of positive longs,
  * bit-identical in any engine — so fused scores and the final
  * ordering are deterministic and oracle-replayable.
  *
  * Scale shape: each input list is already a per-query top-k (≤ k rows
  * per qid), so the full-outer fusion join and the final re-rank
  * touch ≤ lists·k rows per query — constant-bounded work no
  * matter the corpus size behind the retrievers.
  */
object Rrf {

  /** The conventional RRF dampening constant. */
  val K = 60L

  /** Fixed-point scale of fused scores (micro-units). */
  val Scale = 1000000L

  /** Fuse labelled ranked lists, each of shape (qid, id, rank) with
    * rank 1-based: (qid, rank, id, rrf_fp, r_<label>…). A document
    * absent from one list contributes 0 for it (its r_<label> is
    * NULL); the fused rank is 1..topK by (rrf_fp DESC, id). */
  def fuse(lists: Seq[(String, DataFrame)], topK: Int): DataFrame = {
    require(lists.size >= 2, "RRF needs at least two ranked lists")
    val renamed = lists.map { case (lbl, df) =>
      df.select(col("qid"), col("id"), col("rank").as(s"r_$lbl"))
    }
    val joined = renamed.reduce(_.join(_, Seq("qid", "id"), "full_outer"))
    val rrf = lists.map { case (lbl, _) =>
      coalesce(expr(s"${Scale}L DIV ($K + r_$lbl)"), lit(0L))
    }.reduce(_ + _)
    graft.functions.TopKFunctions.ranked(joined.withColumn("rrf_fp", rrf), Seq("qid"),
        Seq(col("rrf_fp").desc, col("id")), topK)
      .select(Seq(col("qid"), col("rank"), col("id"), col("rrf_fp")) ++
        lists.map { case (lbl, _) => col(s"r_$lbl") }: _*)
  }
}
