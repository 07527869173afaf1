package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.enrich.{EnrichMetrics, Enricher}
import graft.model.PipelineConfig
import graft.pipeline.BatchPipeline
import graft.sinks.Sinks
import graft.sources.Sources

/** Façade mirroring the reference's endpoint surface 1:1 (SURVEY.md §3)
  * so a user of `Mazhar31/AI-Batch-Processing` can switch verb-for-verb:
  *
  *   POST /upload            → [[upload]]        (EP1: parse + register)
  *   POST /start_processing  → [[process]]       (EP2: the pipeline run)
  *   GET  /export_results    → [[exportResults]] (EP3: sinks + ZIP)
  *   GET  /get_status        → [[status]]        (rate/ETA arithmetic)
  *   POST /reset_system      → [[reset]]         (main.py:671-677)
  *
  * Differences by design: multiple tables may be live at once (the
  * reference wipes state per upload, main.py:106-111 — an anti-feature
  * at scale), results are DataFrames not driver lists, and stop is
  * job-group cancellation ([[graft.pipeline.JobControl]]).
  */
final class GraftEngine(spark: SparkSession) {

  // engine sessions run only this engine's prefix-preserving runners,
  // so the enrichment filter pushdown is safe to enable by default
  graft.plans.GraftPlans.install(spark)

  final case class UploadReport(name: String, rows: Long, columns: Seq[String])
  final case class ProcessReport(jobId: String, results: DataFrame,
    quarantined: DataFrame, enriched: DataFrame, metrics: EnrichMetrics,
    startedAtMs: Long) {
    def completed: Long = metrics.processed.value
    def errors: Long = metrics.errors.value
  }

  private val jobCounter = new AtomicInteger(0)
  private var tables: Map[String, DataFrame] = Map.empty
  private var jobs: Map[String, ProcessReport] = Map.empty

  /** EP1: ingest a file (format by extension, reference validation
    * rules), register it by basename, report the inferred schema. */
  def upload(path: String): UploadReport = synchronized {
    val name = path.split('/').last.replaceAll("\\.[A-Za-z0-9]+$", "")
      .replaceAll("[^A-Za-z0-9_]", "_")
    val df = Sources.load(spark, path)
    df.createOrReplaceTempView(name)
    tables += name -> df
    UploadReport(name, df.count(), df.columns.toSeq)
  }

  def table(name: String): DataFrame =
    tables.getOrElse(name, sys.error(s"no such uploaded table: $name"))

  /** EP2: run the batch pipeline on an uploaded table. */
  def process(tableName: String, cfg: PipelineConfig, enricher: Enricher): ProcessReport =
    synchronized {
      val jobId = s"job_${jobCounter.incrementAndGet()}"
      val metrics = new EnrichMetrics(spark)
      val (results, quarantined, enriched) = BatchPipeline.run(table(tableName), cfg,
        enricher, metrics = Some(metrics))
      val report = ProcessReport(jobId, results.cache(), quarantined, enriched, metrics,
        System.currentTimeMillis())
      jobs += jobId -> report
      report
    }

  /** EP3: export a completed job in the reference's four formats;
    * returns the ZIP (or directory) path. */
  def exportResults(jobId: String, formatType: String, outDir: String): String = {
    val job = jobs.getOrElse(jobId, sys.error(s"no such job: $jobId"))
    formatType match {
      case "json" => Sinks.writeJson(job.results, s"$outDir/json", singleFile = true); s"$outDir/json"
      case "csv" => Sinks.writeCsv(job.results, s"$outDir/csv", singleFile = true); s"$outDir/csv"
      case "individual" =>
        Sinks.writeIndividual(job.results, s"$outDir/individual")
        Sinks.zipDirectory(s"$outDir/individual", s"$outDir/results.zip")
        s"$outDir/results.zip"
      case "both" =>
        Sinks.writeBoth(job.results, s"$outDir/export")
        Sinks.zipDirectory(s"$outDir/export", s"$outDir/results.zip")
        s"$outDir/results.zip"
      case other => sys.error(s"unknown format: $other (json|csv|individual|both)")
    }
  }

  /** /get_status (main.py:649-669): counters + throughput + ETA. */
  def status(jobId: String): Map[String, Any] = {
    val job = jobs.getOrElse(jobId, sys.error(s"no such job: $jobId"))
    val elapsed = System.currentTimeMillis() - job.startedAtMs
    Map(
      "job_id" -> jobId,
      "completed" -> job.completed,
      "errors" -> job.errors,
      "rate_per_minute" -> job.metrics.ratePerMinute(elapsed),
      "elapsed_ms" -> elapsed)
  }

  /** /reset_system: drop registered views, unpersist every job's results
    * and the enrichment output they were built from. */
  def reset(): Unit = synchronized {
    tables.keys.foreach(n => spark.catalog.dropTempView(n))
    jobs.values.foreach { j => j.results.unpersist(); j.enriched.unpersist() }
    tables = Map.empty
    jobs = Map.empty
  }
}
