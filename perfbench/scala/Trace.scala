package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. Times are microseconds since the run started. */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long, parent: Long,
    runId: String)

/** In-memory span recorder for the benchmark's own boundaries: phases,
  * queries, Spark jobs and enricher calls. Nothing is written until
  * [[writeJsonl]] at exit. Disabled (the untraced run) it records nothing,
  * and [[phase]] is a plain call.
  *
  * Spark jobs find their parent span through the local property
  * [[SpanProperty]], which [[phase]] sets on the calling thread; tasks see it
  * through `TaskContext.getLocalProperty`. */
object Trace {
  val SpanProperty = "perfbench.span"
  val RunProperty = "perfbench.run"
  /** Set while the benchmark checks outputs: those jobs are not measured. */
  val CheckProperty = "perfbench.check"
  /** enrich.call spans kept for the JSONL; every call still feeds the metrics. */
  val CallSpanCap = 1000

  @volatile var enabled = false
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val callSpans = new AtomicInteger(0)
  @volatile var runId = "run"

  def nowUs(): Long = (System.nanoTime() - t0Nanos) / 1000
  def epochMsToUs(ms: Long): Long = (ms - t0EpochMs) * 1000

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit =
    if (enabled && (s.name != "enrich.call" || callSpans.incrementAndGet() <= CallSpanCap))
      spans.add(s)

  /** Run `f` inside a span named `name`; returns its result and the span. */
  def phase[T](sc: SparkContext, name: String)(f: => T): (T, Span) = {
    val id = nextId()
    val parent = Option(sc.getLocalProperty(SpanProperty)).map(_.toLong).getOrElse(0L)
    sc.setLocalProperty(SpanProperty, id.toString)
    val start = nowUs()
    try {
      val out = f
      val span = Span(id, name, start, nowUs(), parent, runId)
      record(span)
      (out, span)
    } finally sc.setLocalProperty(SpanProperty, if (parent == 0L) null else parent.toString)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Drop every span recorded so far and restart the enrich.call cap. */
  def clear(): Unit = { spans.clear(); callSpans.set(0) }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startUs).foreach { s =>
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${s.startUs},""")
        .append(s""""end_us":${s.endUs},"parent":${s.parent},"run":${Json.str(s.runId)}}""")
        .append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Spark-side counters, attributed by the `perfbench.run` local property so
  * each timed section reads only its own jobs, and jobs run while outputs are
  * checked are left out. */
final class BenchListener extends SparkListener {
  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0L; var cpuNs = 0L; var schedMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var input = 0L; var output = 0L
    /** job count per parent span id */
    val jobsBySpan = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  }
  private val byRun = mutable.Map.empty[String, Counts]
  private val stageRun = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (String, Long, Long)] // run, span, start

  def counts(run: String): Counts = synchronized(byRun.getOrElse(run, new Counts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    if (!p.exists(_.getProperty(Trace.CheckProperty) != null)) {
      val run = p.flatMap(x => Option(x.getProperty(Trace.RunProperty))).getOrElse("other")
      val span = p.flatMap(x => Option(x.getProperty(Trace.SpanProperty))).map(_.toLong)
        .getOrElse(0L)
      val c = byRun.getOrElseUpdate(run, new Counts)
      c.jobs += 1
      c.jobsBySpan(span) += 1
      e.stageIds.foreach(stageRun(_) = run)
      jobInfo(e.jobId) = (run, span, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (run, span, start) =>
      Trace.record(Span(Trace.nextId(), "spark.job", Trace.epochMsToUs(start),
        Trace.epochMsToUs(e.time), span, run))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageRun.get(e.stageInfo.stageId).foreach(r => byRun(r).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (run <- stageRun.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byRun(run)
      val info = e.taskInfo
      c.tasks += 1
      c.taskMs += info.duration
      c.cpuNs += m.executorCpuTime
      c.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }
}

/** JVM, codegen and host counters, read as deltas around a timed section.
  * `cpuNs` is this process's CPU time; `stealTicks` the host's stolen time
  * over all CPUs from /proc/stat (0 where absent), in clock ticks. */
final case class JvmSnapshot(jitMs: Long, gcMs: Long, compilations: Long, compileNs: Long,
    cpuNs: Long, stealTicks: Long) {
  def minus(o: JvmSnapshot): JvmSnapshot =
    JvmSnapshot(jitMs - o.jitMs, gcMs - o.gcMs, compilations - o.compilations,
      compileNs - o.compileNs, cpuNs - o.cpuNs, stealTicks - o.stealTicks)
}

object JvmSnapshot {
  def now(): JvmSnapshot = JvmSnapshot(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
    stealTicks())

  private def stealTicks(): Long =
    try {
      val fields = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+")
      if (fields.length > 8) fields(8).toLong else 0L
    } catch { case _: java.io.IOException => 0L }

  /** VmHWM of this process in MB (Linux), or -1 where /proc is absent. */
  def peakRssMb(): Double =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .asScala.find(_.startsWith("VmHWM:"))
      line.map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)
    } catch { case _: java.io.IOException => -1.0 }
}

/** Minimal JSON writing for the result and span files. */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def str(s: String): String = mapper.writeValueAsString(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
