package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, LongType}

/** Catalog façade over the driver's parquet tables (TESTDATA.md).
  *
  * The reference engine holds exactly one in-memory table at a time
  * (`/root/reference/main.py:63-65,106-111`); our engine is a multi-table
  * catalog over columnar files — every load is a lazy
  * `FileSourceScanExec` with pushdown/pruning, so at 100 TB a query
  * touches only the columns+row-groups it needs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      // some generator versions write events.ts as parquet
      // TIMESTAMP(NANOS), which Spark 4 rejects by default; read that
      // encoding as raw nanos and derive epoch columns in
      // [[loadEvents]]. Runtime-settable legacy conf, a no-op for
      // micros-encoded files.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** events plus derived `sec`/`us` epoch columns (bigint, floor
    * division — matching DuckDB's epoch()/epoch_us() truncation).
    * Encoding-adaptive: the generator has shipped `ts` both as parquet
    * TIMESTAMP(NANOS) (read as raw nanos via the legacy conf in
    * [[load]]) and as plain micros TIMESTAMP / TIMESTAMP_NTZ; all
    * downstream query code reads only the derived integer columns, so
    * the encoding never leaks past this one cast site. NTZ wall-clock
    * values equal their UTC instants here because the session timezone
    * is pinned to UTC (LocalSessions) — the same naive reading DuckDB's
    * epoch(ts) applies on the oracle side. */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.withColumn("us", eventsUs(raw.schema("ts").dataType))
      .withColumn("sec", expr("CAST(us DIV 1000000 AS BIGINT)"))
  }

  /** Epoch microseconds of the events `ts` column, given the type
    * [[load]] read it as — the one cast site of [[loadEvents]], shared
    * by the event-time column of
    * [[graft.streaming.Streaming.eventsStream]]. */
  private[graft] def eventsUs(tsType: DataType): Column = tsType match {
    case LongType => expr("CAST(ts DIV 1000 AS BIGINT)") // nanos-as-long
    case _ => expr("unix_micros(CAST(ts AS TIMESTAMP))") // micros, LTZ or NTZ
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
