package graft

/** The engine is SQL-first usable: tables registered as views, custom
  * expressions registered as SQL functions — `spark.sql` gets the same
  * plans and results as the DataFrame API. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("registered views + spark.sql reproduce the DataFrame q01 exactly") {
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin).collect()
    val viaDf = graft.queries.Relational.q01Agg(spark, sf)
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order").collect()
    assert(viaSql.map(_.toSeq).toSeq == viaDf.map(_.toSeq).toSeq)
  }

  test("custom expressions are callable from SQL (polyhash, simhash32, minhash, shingles)") {
    Tables.registerAll(spark, sf)
    val row = spark.sql(
      """SELECT polyhash(text, 1000000007) AS ph, simhash32(text) AS sh,
        |  size(minhash_sig(text)) AS k, size(char_shingles(text, 8)) AS ns,
        |  vecdot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp
        |FROM documents ORDER BY doc_id LIMIT 1""".stripMargin).head()
    assert(row.getAs[Long]("ph") >= 0L && row.getAs[Long]("sh") >= 0L)
    assert(row.getAs[Int]("k") == 16 && row.getAs[Int]("ns") > 0)
    assert(row.getAs[Double]("dp") == 11.0)
  }
}
