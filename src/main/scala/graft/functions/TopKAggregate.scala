package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Expression,
  InterpretedOrdering, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, posexplode, struct}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Grouped top-k as a NATIVE bounded-state aggregate — the scale answer
  * to `row_number() OVER (PARTITION BY key ORDER BY ord) <= k`, which
  * shuffles and sorts EVERY row of every key. This aggregate keeps a
  * k-element bound per group on the map side, so the shuffle carries at
  * most k rows per (partition, group) and nothing is ever globally
  * sorted: at 100 TB that is the difference between a full-data sort
  * exchange and a constant-size sketch merge.
  *
  * `child` is the struct each kept row carries; `orders` are the
  * caller's sort orders (direction and null ordering as `Column.asc` /
  * `Column.desc` give them), evaluated per input row and compared by an
  * [[InterpretedOrdering]] over those same orders — the comparator a
  * window's sort uses, so NULL placement, NaN (largest) and -0.0 = 0.0
  * rank exactly as `row_number()` would. Include a unique tie-breaker
  * as the last order for deterministic output. eval returns the k
  * first structs in rank order; callers `posexplode` to get (rank, row)
  * — [[TopKFunctions.ranked]] is that tail.
  */
case class TopKAgg(
    child: Expression,
    orders: Seq[SortOrder],
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[InternalRow]] {

  require(k >= 1, s"topk needs k >= 1, got $k")
  require(orders.nonEmpty, "topk needs at least one sort order")

  override def children: Seq[Expression] = child +: orders

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => orders.find(o => !RowOrdering.isOrderable(o.dataType)) match {
      case Some(o) => TypeCheckResult.TypeCheckFailure(
        s"topk sort keys must be orderable, got ${o.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
    case other => TypeCheckResult.TypeCheckFailure(
      s"topk needs a STRUCT child, got ${other.sql}")
  }

  private lazy val structType = child.dataType.asInstanceOf[StructType]
  /** A buffered row: the order values, then the carried struct. */
  private lazy val nKeys = orders.length
  private lazy val ordering: Ordering[InternalRow] = new InterpretedOrdering(
    orders.zipWithIndex.map { case (o, i) =>
      o.copy(child = BoundReference(i, o.dataType, nullable = true))
    })
  private lazy val project =
    UnsafeProjection.create(orders.map(_.child) :+ child)

  override def createAggregationBuffer(): mutable.ArrayBuffer[InternalRow] =
    mutable.ArrayBuffer.empty

  /** Keep the buffer as an unsorted bag of ≤ 2k rows, compacting to the
    * k first when it doubles — amortized O(1) comparisons per row
    * without a heap's per-insert log k. */
  private def compact(buf: mutable.ArrayBuffer[InternalRow]): Unit =
    if (buf.length > k) {
      val kept = buf.sorted(ordering).take(k)
      buf.clear(); buf ++= kept
    }

  override def update(
      buf: mutable.ArrayBuffer[InternalRow], input: InternalRow): mutable.ArrayBuffer[InternalRow] = {
    if (child.eval(input) != null) {
      buf += project(input).copy()
      if (buf.length >= 2 * k) compact(buf)
    }
    buf
  }

  override def merge(
      buf: mutable.ArrayBuffer[InternalRow],
      other: mutable.ArrayBuffer[InternalRow]): mutable.ArrayBuffer[InternalRow] = {
    buf ++= other
    compact(buf)
    buf
  }

  override def eval(buf: mutable.ArrayBuffer[InternalRow]): Any =
    new GenericArrayData(
      buf.sorted(ordering).take(k).map(_.getStruct(nKeys, structType.length)).toArray[Any])

  override def serialize(buf: mutable.ArrayBuffer[InternalRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    compact(buf) // never ship more than k rows per partial
    out.writeInt(buf.length)
    buf.foreach { row =>
      val bytes = row.asInstanceOf[UnsafeRow].getBytes
      out.writeInt(bytes.length); out.write(bytes)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[InternalRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      val row = new UnsafeRow(nKeys + 1)
      row.pointTo(b, len)
      buf += row
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(child = newChildren.head, orders = newChildren.tail.map(_.asInstanceOf[SortOrder]))

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def prettyName: String = "topk"
}

object TopKFunctions {
  /** Bounded-state per-group top-k: array of the k smallest `ordStruct`
    * values (lexicographic struct order, nulls first). */
  def topK(ordStruct: Column, k: Int): Column = {
    val e = GraftShim.expression(ordStruct)
    GraftShim.column(TopKAgg(e, Seq(SortOrder(e, Ascending)), k).toAggregateExpression())
  }

  /** The grouped top-k every ranked tail runs: per distinct `keys`
    * value, the `k` first rows of `df` under `order` (sort orders as a
    * window's `orderBy` takes them — plain columns rank ascending), as
    * (keys…, rank, the row's other columns…) with `rank` a 1-based
    * BIGINT. Row-for-row equal to
    * `row_number() OVER (PARTITION BY keys ORDER BY order) <= k` when
    * `order` ends in a unique tie-breaker; a group smaller than k keeps
    * all its rows, an empty input gives no rows.
    *
    * With keys, one [[TopKAgg]] per group: map-side bounded partials,
    * one hash exchange on the keys. Without keys (a global top-k) the
    * input is first cut by `orderBy.limit(k)` — TakeOrderedAndProject,
    * per-partition heaps merged into one partition — so the aggregate
    * ranks ≤ k rows that already sit in one partition and plans no
    * exchange of its own. Streaming inputs pass their event-time
    * window as a key. */
  def ranked(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val fields = df.columns.toSeq.filterNot(keys.contains)
    val top = TopKAgg(GraftShim.expression(struct(fields.map(col): _*)),
      order.map(GraftShim.sortOrder), k)
    val input = if (keys.isEmpty) df.orderBy(order: _*).limit(k) else df
    input.groupBy(keys.map(col): _*)
      .agg(GraftShim.column(top.toAggregateExpression()).as("__top"))
      .select(keys.map(col) :+ posexplode(col("__top")).as(Seq("__pos", "__row")): _*)
      .select(keys.map(col) ++ ((col("__pos") + 1).cast("long").as("rank") +:
        fields.map(f => col("__row").getField(f).as(f))): _*)
  }
}
