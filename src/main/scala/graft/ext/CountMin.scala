package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch — frequency estimation for EVERY key under fixed
  * memory, the complement of [[HeavyHitters]] (which keeps only the
  * few largest) and [[Hll]] (which counts distincts, not frequencies).
  * A d×w counter matrix: each occurrence increments one cell per row
  * (d independent hashes); a key's estimate is the MIN over its d
  * cells — always ≥ the true count (one-sided error), within εN with
  * probability 1−δ for w = e/ε, d = ln(1/δ).
  *
  * Scale shape: the build is `groupBy(row, cell).count()` — map-side
  * combined into ≤ d·w partials per partition, so shuffle bytes are
  * CONSTANT in data size (the [[Hll]] register discipline); merging
  * two sketches is elementwise cell addition (mergeable state, union-
  * able across days/shards). Point queries join the d·w-row sketch
  * broadcast.
  *
  * Determinism: the engine's replayable 31-bit avalanched polyhash
  * ([[Hll.hash31]]) feeds d pairwise-independent affine maps with
  * FIXED constants — cell indices, counters and estimates are exact
  * integers, bit-identical in any engine.
  */
object CountMin {

  val Depth = 4
  val Width = 32
  val P = 1000000007L

  /** Fixed affine coefficients, one pair per row. */
  val A: Seq[Long] = Seq(472882049L, 741103597L, 282475249L, 622729787L)
  val B: Seq[Long] = Seq(86028157L, 265443577L, 472287103L, 657305099L)

  /** The d (row, cell) coordinates of one key value. h < 2^31 and
    * a < 2^30 keep every product under 2^61 — no overflow under ANSI. */
  private def cells(key: Column): Column = {
    val h = Hll.hash31(key)
    array((0 until Depth).map(i =>
      struct(lit(i.toLong).as("row"),
        (((h * A(i) + B(i)) % P) % Width).as("cell"))): _*)
  }

  /** Build the sketch from a key column: (row, cell, cnt) — one row
    * per touched cell (untouched cells are implicitly 0). */
  def sketch(df: DataFrame, key: Column): DataFrame = {
    df.select(explode(cells(key)).as("rc"))
      .select(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .groupBy(col("row"), col("cell")).agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for each distinct value of `key` in `keys`:
    * (key…, est) with est = min over the d matching cells. The ≤ d·w-row
    * sketch broadcasts; each key probes its own d cells. */
  def estimates(sk: DataFrame, keys: DataFrame, key: Column): DataFrame = {
    val kc = keys.select(key.as("key"), explode(cells(key)).as("rc"))
      .select(col("key"), col("rc.row").as("row"), col("rc.cell").as("cell"))
    kc.join(broadcast(sk), Seq("row", "cell"))
      .groupBy(col("key")).agg(min(col("cnt")).as("est"))
  }
}
