package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.types.{LongType, StructType}

/** Internal-row bridge for graft's scalable dense row index.
  *
  * `Dataset.rdd` deserializes every `InternalRow` into an external `Row`
  * and `createDataFrame` re-encodes it — two full columnar↔object
  * conversions that also break whole-stage codegen around the boundary.
  * Appending the zipWithIndex counter directly onto the `InternalRow`
  * stream (`queryExecution.toRdd`) keeps the data in Tungsten format;
  * the downstream `RDDScanExec` re-projects to `UnsafeRow` lazily, one
  * row at a time, so the reused `JoinedRow` wrapper is safe.
  *
  * Lives in `org.apache.spark.sql` only to reach the `private[sql]`
  * `internalCreateDataFrame`; uses public-contract internals
  * (`toRdd`, `JoinedRow`) that Spark's own exec nodes use the same way.
  */
object GraftShim {

  /** Wrap a Catalyst expression as a Column (Spark 4 keeps the direct
    * constructor `private[sql]`; the function-registry route requires a
    * session at hand, which pure Column helpers don't have). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse bridge: the (possibly unresolved) expression behind a Column. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The Catalyst sort order behind a Column as a window's `orderBy`
    * reads it: `asc`/`desc` and their nulls variants keep direction and
    * null ordering; any other column sorts ascending, nulls first. */
  def sortOrder(c: Column): org.apache.spark.sql.catalyst.expressions.SortOrder = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    c.node match {
      case internal.SortOrder(child, dir, nulls, _) => ce.SortOrder(expression(new Column(child)),
        if (dir == internal.SortOrder.Ascending) ce.Ascending else ce.Descending,
        if (nulls == internal.SortOrder.NullsFirst) ce.NullsFirst else ce.NullsLast, Seq.empty)
      case _ => ce.SortOrder(expression(c), ce.Ascending)
    }
  }

  /** `localCheckpoint(eager = true)` that KEEPS a hash layout: enforce
    * `hash(key) → numPartitions` clustering (repartition-by-NUM — not
    * AQE-coalescible, so the physical assignment is exactly
    * `pmod(hash(key), numPartitions)`) plus an in-partition sort on
    * `key`, materialize the rows once (RDD-level local checkpoint, the
    * same `execute().map(_.copy())` recipe `Dataset.checkpoint` uses),
    * and expose the result as a [[org.apache.spark.sql.execution.LogicalRDD]]
    * that DECLARES that partitioning and ordering.
    *
    * Why not plain `Dataset.localCheckpoint`: under AQE the executed
    * plan is an `AdaptiveSparkPlanExec`, whose `outputPartitioning` is
    * `UnknownPartitioning` by construction, so
    * `LogicalRDD.fromDataset` drops the layout and every downstream
    * key-equi-join re-exchanges AND re-sorts the checkpointed frame.
    * Declaring the layout here is sound because this method itself
    * just produced it — the declaration can never drift from the
    * physical facts (the bucketed-table discipline for a session
    * artifact). */
  def localCheckpointHashLayout(df: DataFrame, keyCol: String,
      numPartitions: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val laid = df.repartition(numPartitions, df(keyCol))
      .sortWithinPartitions(keyCol)
      .asInstanceOf[classic.Dataset[Row]]
    val spark = laid.sparkSession
    val rdd = laid.queryExecution.executedPlan.execute().map(_.copy())
    rdd.localCheckpoint()
    rdd.count() // eager: materialize the blocks now, like localCheckpoint(true)
    val output = laid.queryExecution.analyzed.output
    val key = output.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(s"no column '$keyCol' in ${output.map(_.name)}"))
    classic.Dataset.ofRows(spark,
      org.apache.spark.sql.execution.LogicalRDD(
        output, rdd,
        HashPartitioning(Seq(key), numPartitions),
        Seq(SortOrder(key, Ascending)),
        isStreaming = false)(spark))
  }

  /** Present `rdd` as the local checkpoint of `like`: `rdd` must hold,
    * partition for partition and in order, exactly the rows `like`
    * computes. The frame carries `like`'s output, statistics,
    * partitioning and ordering — the `LogicalRDD` that
    * `Dataset.localCheckpoint` builds — without running `like`'s plan.
    * For rows a driver loop already computed (an iterative kernel's
    * final state), where a bare `createDataFrame` would carry no size
    * statistics and change the join strategy of every consumer. */
  def checkpointedAs(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      like: DataFrame): DataFrame = {
    val ds = like.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }

  /** Append a 0-based dense long index column reflecting the current
    * partition order (partition i's rows precede partition i+1's).
    * One extra count job (zipWithIndex) whose shuffle dependencies are
    * shared with the main action, so upstream stages are not re-run. */
  def zipWithRowIndex(df: DataFrame, name: String): DataFrame = {
    val out = StructType(df.schema.fields).add(name, LongType, nullable = false)
    val rdd = df.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
      val joined = new JoinedRow
      val idxRow = new GenericInternalRow(1)
      it.map { case (row, idx) =>
        idxRow.update(0, idx)
        joined(row, idxRow): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    df.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, out)
  }

  /** Append the INCLUSIVE running sum of long column `valueCol` in the
    * current partition order — the scalable replacement for a global
    * `sum over (order by …)` window, which funnels the whole table
    * through one partition. Two passes, zipWithIndex-style: a small job
    * collects one partial sum per partition (O(#partitions) driver
    * data), their exclusive scan broadcasts back as per-partition
    * offsets, and the main pass accumulates locally on the InternalRow
    * stream (no decode, codegen-adjacent). Null values count as 0. */
  def zipWithPrefixSum(df: DataFrame, valueCol: String, name: String): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    require(df.schema(vIdx).dataType == LongType,
      s"zipWithPrefixSum requires a BIGINT column, got ${df.schema(vIdx).dataType.sql}")
    val out = StructType(df.schema.fields).add(name, LongType, nullable = false)
    val rdd0 = df.queryExecution.toRdd
    val partialSums = rdd0.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => if (!r.isNullAt(vIdx)) s += r.getLong(vIdx))
      Iterator((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partialSums.scanLeft(0L)(_ + _)
    val offsetsBc = df.sparkSession.sparkContext.broadcast(offsets)
    val rdd = rdd0.mapPartitionsWithIndex { (pid, it) =>
      val joined = new JoinedRow
      val sumRow = new GenericInternalRow(1)
      var running = offsetsBc.value(pid)
      it.map { row =>
        if (!row.isNullAt(vIdx)) running += row.getLong(vIdx)
        sumRow.update(0, running)
        joined(row, sumRow): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    df.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, out)
  }

  /** Append the EXCLUSIVE running max of long column `valueCol` in the
    * current partition order — the value BEFORE this row,
    * Long.MinValue for the very first row — the scalable replacement
    * for `max over (order by … rows between unbounded preceding and 1
    * preceding)`. Same two-pass recipe as [[zipWithPrefixSum]]: one
    * partial max per partition to the driver, their exclusive scan
    * broadcast back as per-partition seeds. Null values are ignored. */
  def zipWithPrefixMax(df: DataFrame, valueCol: String, name: String): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    require(df.schema(vIdx).dataType == LongType,
      s"zipWithPrefixMax requires a BIGINT column, got ${df.schema(vIdx).dataType.sql}")
    val out = StructType(df.schema.fields).add(name, LongType, nullable = false)
    val rdd0 = df.queryExecution.toRdd
    val partialMax = rdd0.mapPartitionsWithIndex { (pid, it) =>
      var m = Long.MinValue
      it.foreach(r => if (!r.isNullAt(vIdx)) m = math.max(m, r.getLong(vIdx)))
      Iterator((pid, m))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partialMax.scanLeft(Long.MinValue)(math.max)
    val offsetsBc = df.sparkSession.sparkContext.broadcast(offsets)
    val rdd = rdd0.mapPartitionsWithIndex { (pid, it) =>
      val joined = new JoinedRow
      val mRow = new GenericInternalRow(1)
      var running = offsetsBc.value(pid)
      it.map { row =>
        mRow.update(0, running)
        if (!row.isNullAt(vIdx)) running = math.max(running, row.getLong(vIdx))
        joined(row, mRow): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    df.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, out)
  }
}
