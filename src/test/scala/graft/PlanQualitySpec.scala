package graft

import graft.queries.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Asserts the physical plans we'd want on a 1000-executor cluster:
  * filters/projections reach the parquet scan, small dims broadcast,
  * hot paths stay inside WholeStageCodegen. A query that merely returns
  * correct rows but scans all columns or shuffles a dimension table
  * would pass the oracle and still be wrong at 100 TB — these specs
  * catch that. */
class PlanQualitySpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val p = plan(Relational.q02Filter(spark, sf))
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
    // only the 4 referenced columns are read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_shipdate") && readSchema.contains("l_discount") &&
      readSchema.contains("l_quantity") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"unpruned columns read:\n$readSchema")
  }

  test("q03: dimension joins are broadcast, fact side never shuffles for the join") {
    val p = plan(Relational.q03BroadcastJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to SMJ:\n$p")
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val p = plan(Relational.q01Agg(spark, sf))
    // two HashAggregate nodes (partial + final) around one Exchange
    val aggs = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) HashAggregate.*"))
    assert(aggs >= 2, s"expected partial+final HashAggregate:\n$p")
  }

  test("q06: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q06TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"limit+sort not fused into top-k:\n$p")
  }

  test("partitioned layout: lang filter becomes a partition filter (pruned listing)") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_part")
    val dir = base.toString + "/docs"
    try {
      Tables.load(spark, sf, "documents").write.partitionBy("lang").parquet(dir)
      val filtered = spark.read.parquet(dir).filter(col("lang") === "en")
      val p = plan(filtered)
      assert(p.contains("PartitionFilters") &&
        p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("lang")),
        s"lang filter not applied at partition level:\n$p")
      val expected = Tables.load(spark, sf, "documents").filter(col("lang") === "en").count()
      assert(filtered.count() == expected)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("q13/q10: no unpartitioned window funnels the table through one partition") {
    for (q <- Seq("q13_row_index", "q10_template", "q14_pipeline")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      // the scalable index is zipWithIndex-based: these plans must have
      // no Window node at all (a regression to the global row_number
      // would reintroduce one), and no single-partition exchange
      assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window.*")),
        s"$q has a window node:\n$p")
      assert(!p.contains("SinglePartition"), s"$q funnels to a single partition:\n$p")
    }
  }

  test("q48: the vocabulary-sized document-frequency side broadcasts") {
    val p = plan(graft.queries.ScaleQueries.q48Tfidf(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
  }

  test("q54: percentile ranks reuse one shuffle for both windows") {
    val p = plan(graft.queries.StatsQueries.q54Percentiles(spark, sf))
    // row_number and the partition count share partitioning on
    // o_orderpriority: exactly one exchange hashes on it
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(o_orderpriority"))
    assert(hashExchanges <= 1, s"windows did not share the shuffle:\n$p")
  }

  test("q67: scalable prefix sum leaves no window node and no single partition") {
    val p = plan(SparkEntry.queries("q67_token_shards")(spark, sf))
    assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window.*")),
      s"q67 regressed to a window-based running sum:\n$p")
    assert(!p.contains("SinglePartition"), s"q67 funnels to a single partition:\n$p")
  }

  test("q63: bloom prefilter runs below the semi join, which stays broadcast-free of the fact side") {
    val df = graft.queries.CurationQueries.q63BloomPrefilter(spark, sf)
    val p = plan(df)
    // the bloom probe must sit between the fact scan and the join
    // (pre-shuffle row pruning) as Catalyst's native might_contain
    // expression — codegen'd, not a black-box UDF
    val hasBloomFilter = p.contains("might_contain")
    assert(hasBloomFilter, s"native bloom probe missing from the fact branch:\n$p")
    assert(!p.contains("UDF"), s"bloom probe regressed to a UDF:\n$p")
    // exact semi join still present (false-positive removal)
    assert(p.contains("LeftSemi"), s"exact semi join missing:\n$p")
  }

  test("q65: repetition gate is a shuffle-free scan projection (row-local kernel)") {
    val p = plan(graft.queries.CurationQueries.q65RepetitionFilter(spark, sf))
    // the gram kernel runs inside the projection: no aggregates, no
    // generate/explode, and the only exchange is the final order-by's
    assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) HashAggregate.*")),
      s"repetition stats regressed to the aggregate formulation:\n$p")
    assert(!p.linesIterator.exists(_.trim.matches("\\(\\d+\\) Generate.*")),
      s"unexpected explode in the row-local path:\n$p")
    val exchanges = p.linesIterator.count(l => l.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, s"expected only the final sort exchange:\n$p")
  }

  test("custom hash expressions participate in whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, sf, "documents")
      .select(graft.functions.GraftFunctions.simhash32(col("text")).as("h"))
    // formatted mode marks whole-stage-codegen participants with
    // "[codegen id : N]"; the project containing simhash32 must be one
    val p = plan(df)
    assert(p.linesIterator.exists(l => l.contains("Project") && l.contains("codegen id")),
      s"simhash projection not inside whole-stage codegen:\n$p")
  }
}
