package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{GraftEngine, LocalSessions, SparkEntry}
import graft.enrich.{Enricher, HttpChatEnricher}
import graft.model._

/** One benchmark run in a fresh JVM: set up, run one workload, check its
  * outputs, and write `result.json` (plus `spans.jsonl` when traced) for
  * `perfbench/run.py`, which prints the result line. The workload `setup`
  * only sets up. Usage: `perfbench.PerfBench <run.json>`. */
object PerfBench {

  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft.queries._
    Seq("Relational" -> Relational.queries, "Reference" -> Reference.queries,
      "TextQueries" -> TextQueries.queries, "HashDedupQueries" -> HashDedupQueries.queries,
      "EmbeddingQueries" -> EmbeddingQueries.queries, "EventQueries" -> EventQueries.queries,
      "MiscQueries" -> MiscQueries.queries, "ExtraQueries" -> ExtraQueries.queries,
      "CorpusQueries" -> CorpusQueries.queries, "MoreRelational" -> MoreRelational.queries,
      "ScaleQueries" -> ScaleQueries.queries, "StatsQueries" -> StatsQueries.queries,
      "CurationQueries" -> CurationQueries.queries, "LayoutQueries" -> LayoutQueries.queries,
      "SketchQueries" -> SketchQueries.queries, "AnalyticsQueries" -> AnalyticsQueries.queries,
      "MiningQueries" -> MiningQueries.queries)
  }

  /** Everything one run reports back. Metric maps hold plain numbers. */
  final class Outcome {
    val endToEnd = mutable.LinkedHashMap.empty[String, Double]
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val facts = mutable.LinkedHashMap.empty[String, String] // name -> JSON value
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def fail(what: String): Unit = { failed += 1; failures += what }
  }

  /** enrich_api: untimed warm-up iterations (run and checked like the
    * others), then timed iterations; the run reports medians over the
    * timed ones. */
  private val WarmupIterations = 2
  private val Iterations = 2

  def main(args: Array[String]): Unit = {
    val cfg = Json.mapper.readTree(new File(args(0)))
    val runDir = cfg.path("run_dir").asText
    val traced = cfg.path("trace").asBoolean
    Trace.enabled = traced
    val out = new Outcome
    val spark = setup(cfg, out)
    val listener = new BenchListener
    if (traced) spark.sparkContext.addSparkListener(listener)

    cfg.path("workload").asText match {
      case "setup" => out.attempted += 1
      case "catalog_cold" => catalog(spark, cfg, listener, out)
      case "enrich_api" => enrich(spark, cfg, listener, out)
    }
    out.endToEnd("peak_rss_mb") = JvmSnapshot.peakRssMb()
    out.facts("nproc") = Runtime.getRuntime.availableProcessors.toString
    out.facts("spark_graft_cpus") = Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", ""))
    out.facts("driver_max_heap_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    out.facts("jvm") = Json.str(System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version"))
    writeResult(s"$runDir/result.json", out)
    if (traced) Trace.writeJsonl(s"$runDir/spans.jsonl")
    spark.stop()
    System.exit(0)
  }

  // ---- setup ---------------------------------------------------------------

  /** The cold set-up a user pays: from JVM start to a ready session from
    * `LocalSessions.create()` plus a warm-up read, which the workload's
    * timed section then does not pay. The workload runs on this session. */
  private def setup(cfg: JsonNode, out: Outcome): SparkSession = {
    val spark = LocalSessions.create()
    spark.read.text(cfg.path("warmup_path").asText).limit(1).count()
    spark.range(100).selectExpr("sum(id)").count()
    out.endToEnd("setup_s") =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    spark
  }

  // ---- catalog_cold ----------------------------------------------------------

  /** One cold pass over the pinned queries (all of `SparkEntry.queries` when
    * none are given) in name order. Each result is
    * consumed in full through an order-insensitive fingerprint: row count
    * and the sum of a 64-bit hash of every row's JSON form (all columns but
    * `timestamp`). */
  private def catalog(spark: SparkSession, cfg: JsonNode, listener: BenchListener,
      out: Outcome): Unit = {
    val sc = spark.sparkContext
    val dir = cfg.path("data_dir").asText
    val all = SparkEntry.queries
    val pinned = cfg.path("queries").elements.asScala.map(_.asText).toSeq
    val names = (if (pinned.nonEmpty) pinned else all.keys.toSeq).sorted
    val expected = cfg.path("expected")
    val moduleOf = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    Trace.runId = "pass"
    sc.setLocalProperty(Trace.RunProperty, "pass")
    val observed = mutable.LinkedHashMap.empty[String, (Long, String)]
    val queryWall = mutable.LinkedHashMap.empty[String, Double]
    val okTimes = mutable.ArrayBuffer.empty[Double]
    val moduleWall = mutable.LinkedHashMap.empty[String, Double]
      .withDefaultValue(0.0)
    modules.foreach(m => moduleWall(m._1) = 0.0)
    var buildS, planS, execS, rows = 0.0
    val buildSpans = mutable.ArrayBuffer.empty[Long]
    val jvm0 = JvmSnapshot.now()
    val t0 = System.nanoTime()
    names.foreach { name =>
      out.attempted += 1
      val q0 = System.nanoTime()
      try {
        val (fp, _) = Trace.phase(sc, s"query/$name") {
          val (df, build) = Trace.phase(sc, "build")(all(name)(spark, dir))
          buildS += (build.endUs - build.startUs) / 1e6
          buildSpans += build.id
          val a0 = Trace.nowUs()
          val fpDf = fingerprint(df)
          val row = fpDf.collect()(0)
          val a1 = Trace.nowUs()
          val planUs = fpDf.queryExecution.tracker.phases.values.map(_.durationMs).sum * 1000
          val parent = build.parent
          Trace.record(Span(Trace.nextId(), "plan", a0, a0 + planUs, parent, "pass"))
          Trace.record(Span(Trace.nextId(), "exec", a0 + planUs, a1, parent, "pass"))
          planS += planUs / 1e6
          execS += math.max(0L, a1 - a0 - planUs) / 1e6
          (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
        }
        val wall = (System.nanoTime() - q0) / 1e9
        observed(name) = fp
        queryWall(name) = wall
        rows += fp._1
        moduleWall(moduleOf.getOrElse(name, "other")) += wall
        val want = expected.path(name)
        if (want.isArray &&
            (want.get(0).asLong != fp._1 || want.get(1).asText != fp._2))
          out.fail(s"$name: fingerprint ${fp._1}/${fp._2} != ${want.get(0)}/${want.get(1)}")
        else okTimes += wall
      } catch {
        case NonFatal(e) => out.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val jvm = JvmSnapshot.now().minus(jvm0)
    PerfBenchBus.drain(sc)
    out.endToEnd("wall_s") = wallS
    out.endToEnd("rows_per_s") = rows / wallS
    out.endToEnd("query_p50_s") = percentile(okTimes.toSeq, 0.50)
    out.endToEnd("query_p95_s") = percentile(okTimes.toSeq, 0.95)
    out.facts("queries") = names.size.toString
    out.facts("cpu_s") = Json.num(jvm.cpuNs / 1e9)
    out.facts("steal_s") = Json.num(jvm.stealTicks / 100.0)
    out.facts("fingerprints") = observed.map { case (k, (n, h)) =>
      s"${Json.str(k)}:[$n,${Json.str(h)}]" }.mkString("{", ",", "}")
    out.facts("query_wall_s") = queryWall.map { case (k, w) =>
      s"${Json.str(k)}:[${Json.str(moduleOf.getOrElse(k, "other"))},${Json.num(w)}]" }
      .mkString("{", ",", "}")
    if (Trace.enabled) {
      val layer = emptyLayer(cfg)
      layer("queries.build_s") = buildS
      val jobsBySpan = listener.counts("pass").jobsBySpan
      layer("queries.build_jobs") = buildSpans.map(jobsBySpan.getOrElse(_, 0L)).sum.toDouble
      layer("queries.plan_s") = planS
      layer("queries.exec_s") = execS
      moduleWall.foreach { case (m, w) => layer(s"queries.$m.wall_s") = w }
      sparkLayer(layer, listener.counts("pass"), wallS, sc.defaultParallelism)
      jvmLayer(layer, jvm)
      layer("storage.cached_mb") = cachedMb(spark)
      out.perLayer ++= layer
    }
  }

  private def fingerprint(df: DataFrame): DataFrame = {
    val keep = df.columns.zipWithIndex.filterNot(_._1 == "timestamp").map(_._2)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = keep.map(i => col(s"c$i"))
    val json = to_json(struct(cols.toIndexedSeq: _*))
    renamed.agg(count(lit(1)), sum(xxhash64(json).cast(DecimalType(38, 0))))
  }

  // ---- enrich_api ----------------------------------------------------------------

  private final class Expected(path: String) {
    private val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .map(_.split("\t", -1)).toIndexedSeq
    val n: Int = lines.size
    val response: IndexedSeq[String] = lines.map(_(1))
    val inject: IndexedSeq[String] = lines.map(_(2))
    val group: IndexedSeq[String] = lines.map(_(3))
    val turn: IndexedSeq[Int] = lines.map(_(4).toInt)
    val prompt: IndexedSeq[String] = lines.map(_(5))
    val fatal: Set[Long] = (0 until n).filter(inject(_) == "fatal").map(_.toLong).toSet
    val transientPrompts: Set[String] =
      (0 until n).filter(inject(_) == "transient").map(prompt).toSet
    /** row ids the results must hold, in order */
    val kept: IndexedSeq[Long] = (0 until n).map(_.toLong).filterNot(fatal)
  }

  /** One pipeline job of an iteration: its spans, and what the stub saw. */
  private final case class ModeRun(mode: String, grouped: Boolean, job: GraftEngine#ProcessReport,
      process: Span, json: Span, csv: Span, stub: StubSeen)

  private final case class StubSeen(calls: Map[String, Int], errorsSent: Long,
      turnMismatches: Long, handlingMs: Double, withoutSystem: Long)

  /** Per-iteration numbers; the run reports the median over iterations. */
  private final class Iter(cfg: JsonNode) {
    val layer: mutable.LinkedHashMap[String, Double] = emptyLayer(cfg)
    var wallS = 0.0
    var cpuS = 0.0
    var stealS = 0.0
    val jobS = mutable.ArrayBuffer.empty[Double]
  }

  private def enrich(spark: SparkSession, cfg: JsonNode, listener: BenchListener,
      out: Outcome): Unit = {
    val sc = spark.sparkContext
    val runDir = cfg.path("run_dir").asText
    val input = cfg.path("input").asText
    val exp = new Expected(cfg.path("expected_tsv").asText)
    val stub = new StubChatServer(cfg.path("stub_delay_ms").asLong,
      (0 until exp.n).filter(exp.inject(_) != "ok").map(i => exp.prompt(i) -> exp.inject(i)).toMap,
      (0 until exp.n).map(i => exp.prompt(i) -> exp.turn(i)).toMap)
    val base: Enricher = new HttpChatEnricher(stub.baseUrl)
    val enricher = if (Trace.enabled) new TimedEnricher(base) else base
    val template = cfg.path("template").asText
    val system = Some(cfg.path("system_prompt").asText)
    val iters = mutable.ArrayBuffer.empty[Iter]
    var csvEdgeWhitespaceLost = 0L
    try {
      while (out.failed == 0 && iters.size < WarmupIterations + Iterations) {
        val k = iters.size
        // the spans written out cover the timed iterations only
        if (k == WarmupIterations) Trace.clear()
        val it = new Iter(cfg)
        val exportRoot = s"$runDir/export-$k"
        Trace.runId = s"iter-$k"
        sc.setLocalProperty(Trace.RunProperty, Trace.runId)
        CallStats.reset()
        val engine = new GraftEngine(spark)
        val jvm0 = JvmSnapshot.now()
        val t0 = System.nanoTime()
        def op[T](name: String)(f: => T): (T, Span) = {
          out.attempted += 1
          Trace.phase(sc, name)(f)
        }
        val (iterResult, _) = Trace.phase(sc, "iteration") {
          val (up, upSpan) = op("upload")(engine.upload(input))
          var tasksBefore = 0
          val modes = Seq("ungrouped" -> None, "grouped" -> Some("conv")).map { case (mode, key) =>
            stub.reset()
            val pc = PipelineConfig(AiConfig.test(), MappingConfig("topic", key),
              PromptTemplate(template, system))
            val j0 = System.nanoTime()
            val (job, procSpan) = op("process")(engine.process(up.name, pc, enricher))
            val (_, jsonSpan) = op("export.json")(engine.exportResults(job.jobId, "json",
              s"$exportRoot/$mode"))
            val (_, csvSpan) = op("export.csv")(engine.exportResults(job.jobId, "csv",
              s"$exportRoot/$mode"))
            it.jobS += (System.nanoTime() - j0) / 1e9
            if (Trace.enabled) {
              val tasks = CallStats.summary().tasks
              out.facts(s"enrich_tasks_$mode") = (tasks - tasksBefore).toString
              tasksBefore = tasks
            }
            val seen = StubSeen(stub.calls.asScala.map { case (p, c) => p -> c.toInt }.toMap,
              stub.failedSent.get, stub.turnMismatches.get, stub.handlingMsPerRequest,
              stub.withoutSystem.get)
            ModeRun(mode, key.isDefined, job, procSpan, jsonSpan, csvSpan, seen)
          }
          op("reset")(engine.reset())
          (up, upSpan, modes)
        }
        it.wallS = (System.nanoTime() - t0) / 1e9
        val jvm = JvmSnapshot.now().minus(jvm0)
        it.cpuS = jvm.cpuNs / 1e9
        it.stealS = jvm.stealTicks / 100.0
        val (up, upSpan, modes) = iterResult

        // ---- checks: outside the timed section, their jobs not counted ----
        sc.setLocalProperty(Trace.CheckProperty, "1")
        if (up.rows != exp.n) out.fail(s"iter $k upload: ${up.rows} rows, expected ${exp.n}")
        var exportBytes, exportFiles = 0L
        modes.foreach { case ModeRun(mode, grouped, job, _, _, _, seen) =>
          val dir = s"$exportRoot/$mode"
          checkExport(s"iter $k $mode json", dataFiles(s"$dir/json"), exp, grouped,
            trimmed = false, out)
          csvEdgeWhitespaceLost += checkExport(s"iter $k $mode csv", dataFiles(s"$dir/csv"), exp,
            grouped, trimmed = true, out)
          (dataFiles(s"$dir/json") ++ dataFiles(s"$dir/csv")).foreach { f =>
            exportBytes += f.length; exportFiles += 1 }
          val quarantined = job.quarantined.select(col("id").cast("long")).collect()
            .map(_.getLong(0)).toSet
          if (quarantined != exp.fatal)
            out.fail(s"iter $k $mode: quarantined ${quarantined.toSeq.sorted.take(10)} " +
              s"!= injected fatal ${exp.fatal.toSeq.sorted.take(10)}")
          val badIndex = job.results.filter(col("row_index") =!= col("id").cast("long")).count()
          if (badIndex != 0) out.fail(s"iter $k $mode: $badIndex rows with row_index != input id")
          out.facts(s"stub_requests_without_system_prompt_$mode") = seen.withoutSystem.toString
          val retried = seen.calls.collect { case (p, c) if c >= 2 &&
            exp.transientPrompts(p) => p }.toSet
          if (retried != exp.transientPrompts)
            out.fail(s"iter $k $mode: stub saw retries of ${retried.size} prompts, " +
              s"injected ${exp.transientPrompts.size}")
          if (seen.errorsSent != exp.fatal.size + exp.transientPrompts.size)
            out.fail(s"iter $k $mode: stub sent ${seen.errorsSent} error answers")
          if (seen.turnMismatches != 0)
            out.fail(s"iter $k $mode: ${seen.turnMismatches} grouped requests carried the " +
              "wrong number of user turns")
        }
        val partitions = graft.sources.Sources.load(spark, input).rdd.getNumPartitions
        sc.setLocalProperty(Trace.CheckProperty, null)
        deleteTree(new File(exportRoot))

        if (Trace.enabled) {
          PerfBenchBus.drain(sc)
          val l = it.layer
          val counts = listener.counts(Trace.runId)
          def jobsIn(s: Span) = counts.jobsBySpan.getOrElse(s.id, 0L).toDouble
          def secs(s: Span) = (s.endUs - s.startUs) / 1e6
          l("sources.upload_s") = secs(upSpan)
          l("sources.jobs") = jobsIn(upSpan)
          l("sources.partitions") = partitions
          val exports = modes.flatMap(m => Seq(m.json, m.csv)).map(e => e -> lazyPipeline(e)).toMap
          l("pipeline.process_s") = modes.map(m => secs(m.process)).sum +
            exports.values.map(_._2).sum
          l("pipeline.process_jobs") = modes.map(m => jobsIn(m.process)).sum +
            exports.values.map(_._1).sum
          l("sinks.export_json_s") = modes.map(m => secs(m.json) - exports(m.json)._2).sum
          l("sinks.export_csv_s") = modes.map(m => secs(m.csv) - exports(m.csv)._2).sum
          l("sinks.bytes") = exportBytes.toDouble
          l("sinks.files") = exportFiles.toDouble
          val calls = CallStats.summary()
          val rowsIn = 2.0 * exp.n
          l("enrich.calls") = calls.calls.toDouble
          l("enrich.calls_per_row") = calls.calls / rowsIn
          l("enrich.call_p50_ms") = calls.p50Ms
          l("enrich.call_p99_ms") = calls.p99Ms
          l("enrich.busy_s") = calls.busyS
          l("enrich.inflight_max") = calls.inflightMax.toDouble
          l("enrich.tasks") = calls.tasks.toDouble
          l("enrich.retries") = modes.map(_.job.metrics.retries.value.toDouble).sum
          l("enrich.errors") = modes.map(_.job.metrics.errors.value.toDouble).sum
          l("enrich.stub_ms") = median(modes.map(_.stub.handlingMs))
          sparkLayer(l, counts, it.wallS, sc.defaultParallelism)
          jvmLayer(l, jvm)
          l("storage.cached_mb") = cachedMb(spark)
          modes.foreach(m => out.facts(s"retries_${m.mode}") = m.job.metrics.retries.value.toString)
        }
        iters += it
      }
    } catch {
      case NonFatal(e) =>
        out.fail(s"iteration ${iters.size}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally stub.stop()

    val timed = iters.drop(WarmupIterations)
    val done = if (timed.nonEmpty) timed.toSeq else Seq(new Iter(cfg))
    val walls = done.map(_.wallS)
    out.endToEnd("wall_s") = median(walls)
    out.endToEnd("rows_per_s") = 2.0 * exp.n / median(walls)
    // a query is one pipeline job (process and its two exports) per mode;
    // its time is its median over the timed iterations
    val modeCount = done.map(_.jobS.size).max
    val jobs = (0 until modeCount).map(m => median(done.flatMap(_.jobS.lift(m).toSeq)))
    out.endToEnd("query_p50_s") = percentile(jobs, 0.50)
    out.endToEnd("query_p95_s") = percentile(jobs, 0.95)
    out.facts("iterations") = done.size.toString
    out.facts("csv_responses_edge_whitespace_lost") = csvEdgeWhitespaceLost.toString
    out.facts("warmup_wall_s") = iters.take(WarmupIterations).map(i => Json.num(i.wallS))
      .mkString("[", ",", "]")
    out.facts("iteration_wall_s") = walls.map(Json.num).mkString("[", ",", "]")
    // each injected 503 costs one retry backoff in each mode, on a serial chain
    val backoffS = 2 * exp.transientPrompts.size *
      graft.enrich.RetryPolicy.backoffMs(graft.enrich.RetryPolicy.Transient, 0) / 1000.0
    out.facts("retry_backoff_s_per_iteration") = Json.num(backoffS)
    out.facts("retry_backoff_share_of_wall") = Json.num(backoffS / median(walls))
    out.facts("iteration_cpu_s") = done.map(i => Json.num(i.cpuS)).mkString("[", ",", "]")
    out.facts("iteration_steal_s") = done.map(i => Json.num(i.stealS)).mkString("[", ",", "]")
    if (Trace.enabled)
      done.head.layer.keys.foreach(k => out.perLayer(k) = median(done.map(_.layer(k))))
  }

  /** `GraftEngine.process` only plans; the pipeline (file-order index,
    * template, enrich, the order-restoring shuffle) runs in the Spark jobs of
    * the export that first reads the results. So every job of an export phase
    * but its last, the file write, is pipeline work. Returns their number and
    * the seconds they cover. */
  private def lazyPipeline(export: Span): (Int, Double) = {
    val jobs = Trace.all.filter(s => s.name == "spark.job" && s.parent == export.id)
      .sortBy(_.startUs).dropRight(1)
    var coveredUs, reachUs = 0L
    jobs.foreach { j =>
      val from = math.max(j.startUs, reachUs)
      if (j.endUs > from) coveredUs += j.endUs - from
      reachUs = math.max(reachUs, j.endUs)
    }
    (jobs.size, coveredUs / 1e6)
  }

  /** Exported rows must be exactly the kept input rows, in input order, each
    * with its expected response and group key. `trimmed` says the file format
    * drops whitespace at a cell's edges (Spark's CSV writer does by default):
    * a response that matches only once both sides are trimmed is counted in
    * `edgeWhitespaceLost` instead of failing. Returns that count. */
  private def checkExport(what: String, files: Seq[File], exp: Expected, grouped: Boolean,
      trimmed: Boolean, out: Outcome): Long = {
    val rows = files.iterator.flatMap(if (trimmed) readCsv else readJson)
    var i = 0
    var bad, edgeWhitespaceLost = 0L
    var firstBad = ""
    rows.foreach { r =>
      val id = r.getOrElse("id", "-1").toLong
      val want = if (i < exp.kept.size) exp.kept(i) else -1L
      val response = if (id >= 0 && id < exp.n) exp.response(id.toInt) else ""
      val got = r.getOrElse("response", null)
      val exact = got == response
      val ok = id == want && (exact || (trimmed && got != null && got == response.strip)) &&
        r.get("group").contains(if (grouped) exp.group(id.toInt) else s"row_$id")
      if (ok && !exact) edgeWhitespaceLost += 1
      if (!ok) { bad += 1; if (firstBad.isEmpty) firstBad = s"row $i: $r" }
      i += 1
    }
    if (i != exp.kept.size || bad != 0)
      out.fail(s"$what: $i rows (expected ${exp.kept.size}), $bad mismatched; $firstBad")
    edgeWhitespaceLost
  }

  private def readJson(f: File): Iterator[Map[String, String]] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.iterator.map { line =>
      Json.mapper.readTree(line).properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }

  /** Spark's CSV writer quotes fields holding a comma; generated values hold
    * no quotes, backslashes or newlines, so this split is exact for them. */
  private def readCsv(f: File): Iterator[Map[String, String]] = {
    val lines = Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
    if (lines.isEmpty) Iterator.empty
    else {
      val header = splitCsv(lines.head)
      lines.iterator.drop(1).map(l => header.zip(splitCsv(l)).toMap)
    }
  }

  private def splitCsv(line: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quoted = false
    line.foreach {
      case '"' => quoted = !quoted
      case ',' if !quoted => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toSeq
  }

  private def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .sortBy(_.getName)

  // ---- shared metric helpers ---------------------------------------------------

  /** Every per-layer metric of BENCHMARK.json at 0: a layer the workload does
    * not reach reads 0. */
  private def emptyLayer(cfg: JsonNode): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(cfg.path("per_layer").elements.asScala.map(_.asText -> 0.0).toSeq: _*)

  private def sparkLayer(l: mutable.Map[String, Double], c: BenchListener#Counts, wallS: Double,
      cores: Int): Unit = {
    val mb = 1024.0 * 1024.0
    l("exec.jobs") = c.jobs.toDouble
    l("exec.stages") = c.stages.toDouble
    l("exec.tasks") = c.tasks.toDouble
    l("exec.task_s") = c.taskMs / 1e3
    l("exec.cpu_s") = c.cpuNs / 1e9
    l("exec.sched_delay_s") = c.schedMs / 1e3
    l("exec.busy_frac") = if (wallS > 0) c.taskMs / 1e3 / (wallS * cores) else 0.0
    l("exec.shuffle_write_mb") = c.shuffleWrite / mb
    l("exec.shuffle_read_mb") = c.shuffleRead / mb
    l("exec.spill_mb") = c.spill / mb
    l("exec.input_mb") = c.input / mb
    l("exec.output_mb") = c.output / mb
  }

  private def jvmLayer(l: mutable.Map[String, Double], d: JvmSnapshot): Unit = {
    l("jvm.jit_s") = d.jitMs / 1e3
    l("jvm.gc_s") = d.gcMs / 1e3
    l("codegen.compilations") = d.compilations.toDouble
    l("codegen.compile_s") = d.compileNs / 1e9
  }

  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def writeResult(path: String, o: Outcome): Unit = {
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val json = obj(Seq(
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "failures" -> o.failures.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> obj(o.endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> obj(o.perLayer.map { case (k, v) => k -> Json.num(v) }),
      "facts" -> obj(o.facts)))
    Files.writeString(Paths.get(path), json + "\n")
  }
}
