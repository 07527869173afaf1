package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitter candidates as a NATIVE Catalyst typed
  * aggregate — the per-GROUP form of [[graft.ext.HeavyHitters]]: k
  * counters of constant state per group (k−1 entries, like the classic
  * sketch), updated map-side and merged with the Agarwal-et-al
  * mergeable-summaries rule (sum counterparts, subtract the k-th
  * largest count, drop non-positive), so the guarantee composes
  * through Spark's partial-aggregation tree: any value with in-group
  * count > N_group/k is present in the emitted candidate array. The
  * candidate set itself depends on partitioning (like any sketch);
  * callers recount candidates exactly to get a deterministic result —
  * see q85.
  *
  * Why a TypedImperativeAggregate: the buffer is a hash map, which no
  * mutable-row aggregate buffer can hold; this is the same extension
  * point Spark's own approx aggregates use, and it slots into
  * hash aggregation with map-side combine — the shuffle carries one
  * serialized k-entry sketch per (partition, group), not the rows.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mg_candidates needs a STRING child, got ${child.dataType.sql}")

  require(k >= 2, s"mg_candidates needs k >= 2, got $k")

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UTF8String, Long], input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String]
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1)
        case None if buf.size < k - 1 => buf.update(key.copy(), 1L)
        case None => // decrement-all, drop zeros (classic MG step)
          val dead = buf.collect { case (t, 1L) => t }
          buf.mapValuesInPlace((_, c) => c - 1)
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[UTF8String, Long],
      other: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (t, c) => buf.update(t, buf.getOrElse(t, 0L) + c) }
    if (buf.size > k - 1) {
      // subtract the k-th largest count from everything; ≤ k-1 survive
      val kth = buf.values.toArray.sorted(Ordering[Long].reverse).apply(k - 1)
      val dead = buf.collect { case (t, c) if c <= kth => t }
      buf.mapValuesInPlace((_, c) => c - kth)
      dead.foreach(buf.remove)
    }
    buf
  }

  /** Candidate values, sorted for stable display (the set, not the
    * order, carries the guarantee). */
  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any =
    new GenericArrayData(buf.keysIterator.toArray.sortBy(_.toString).toArray[Any])

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) =>
      val bytes = t.getBytes
      out.writeInt(bytes.length); out.write(bytes); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "mg_candidates"
}

object MgFunctions {
  /** Per-group Misra-Gries candidate array. */
  def mgCandidates(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftShim.column(
      MisraGriesAgg(org.apache.spark.sql.GraftShim.expression(c), k)
        .toAggregateExpression())
}
