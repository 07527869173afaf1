package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `runMain graft.Verify <sfDir> <outDir> [q...]`: named queries
  * restrict the run and oracle_sql.json to those queries. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [q...]")
    val sfDir = args(0); val outDir = args(1)
    val only = if (args.length > 2) Some(args.drop(2).toSet) else None
    val queries = only.fold(SparkEntry.queries)(_.map(q => q -> SparkEntry.queries(q)).toMap)
    val spark = LocalSessions.create()
    run(spark, sfDir, outDir, queries)
    writeOracleJson(outDir, only)
    spark.stop()
  }

  /** One per-query verification record for [[writeSummary]]. */
  final case class QueryRun(name: String, ok: Boolean, rows: Long,
      wallSec: Double, error: Option[String])

  /** Dump every query's result and write `verify_summary.json` — the
    * run's own evidentiary record (query → rows written, ok/failed,
    * wall seconds, terminal ALL-GREEN marker), so an empty driver-side
    * correctness artifact is immediately distinguishable from a red
    * gate. The per-query try/catch keeps the summary COMPLETE even
    * when a query throws: a failure becomes a red summary row, never a
    * missing one. Row counts come from the landed parquet footers
    * (metadata-priced, no re-scan). Factored out of `main` so a spec
    * can drive it with an injected failing query and assert the
    * summary visibly turns red. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[QueryRun] = {
    new java.io.File(outDir).mkdirs()
    val runs = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = graft.ext.ArtifactRegistry.countLandedRows(spark, s"$outDir/$name")
        QueryRun(name, ok = true, rows, (System.nanoTime() - t0) / 1e9, None)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        QueryRun(name, ok = false, 0L, (System.nanoTime() - t0) / 1e9,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    }
    writeSummary(outDir, runs)
    runs
  }

  /** verify_summary.json: one entry per query plus the terminal
    * counters and the ALL-GREEN marker. "Green" here = every query
    * produced a result parquet without throwing; the hash-match against
    * the DuckDB oracle is the driver's half of the gate — but a missing
    * or empty driver artifact can no longer erase the evidence that the
    * engine side ran and what it produced. */
  def writeSummary(outDir: String, runs: Seq[QueryRun]): Unit = {
    val entries = runs.map { r =>
      val err = r.error.map(e => s""","error": ${jstr(e.take(300))}""").getOrElse("")
      // Locale.ROOT: the default-locale f"" interpolator renders a
      // decimal COMMA on e.g. de_DE JVMs — unparseable JSON, exactly
      // the silent-zeroing failure jstr exists to prevent
      val wall = String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(r.wallSec))
      s"""${jstr(r.name)}: {"ok": ${r.ok}, "rows": ${r.rows}, """ +
        s""""wall_s": $wall$err}"""
    }.mkString(",\n  ")
    val nOk = runs.count(_.ok)
    val json =
      s"""{
        |  "n_queries": ${runs.size},
        |  "n_ok": $nOk,
        |  "n_failed": ${runs.size - nOk},
        |  "all_green": ${nOk == runs.size && runs.nonEmpty},
        |  "queries": {
        |  $entries
        |}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), json)
  }

  /** JSON string escape shared by the summary and the oracle dump:
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * builder-authored SQL or an exception message would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump SparkEntry.oracleSql as JSON, restricted on subset runs to
    * the queries that ran so check_oracle's exit code stays meaningful. */
  def writeOracleJson(outDir: String, only: Option[Set[String]] = None): Unit = {
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
