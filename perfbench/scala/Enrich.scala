package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.TaskContext

import graft.enrich.{Enricher, Message}
import graft.model.AiConfig

/** Wraps the workload's enricher to time each `enrich` call from outside:
  * latency, concurrency and the tasks that call it, plus one `enrich.call`
  * span per call whose parent is the phase that submitted the job. */
final class TimedEnricher(inner: Enricher) extends Enricher {
  override def open(): Unit = inner.open()
  override def close(): Unit = inner.close()

  override def enrich(messages: Seq[Message], config: AiConfig): String = {
    val tc = TaskContext.get()
    val startUs = Trace.nowUs()
    val t0 = System.nanoTime()
    CallStats.enter(if (tc == null) -1L else tc.taskAttemptId())
    try inner.enrich(messages, config)
    finally {
      val ns = System.nanoTime() - t0
      CallStats.exit(ns)
      val parent = Option(tc).flatMap(t => Option(t.getLocalProperty(Trace.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      Trace.record(Span(Trace.nextId(), "enrich.call", startUs, startUs + ns / 1000, parent,
        Trace.runId))
    }
  }
}

/** JVM-wide call counters behind [[TimedEnricher]] (in local mode every task
  * runs in the benchmark's JVM). [[reset]] starts a timed section. */
object CallStats {
  private val inflight = new AtomicInteger(0)
  private val maxInflight = new AtomicInteger(0)
  private val tasks = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val busyNs = new AtomicLong(0)
  private var durations = new Array[Long](1 << 16)
  private var n = 0

  def enter(taskId: Long): Unit = {
    tasks.add(taskId)
    val now = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(now, math.max)
  }

  def exit(ns: Long): Unit = {
    inflight.decrementAndGet()
    busyNs.addAndGet(ns)
    synchronized {
      if (n == durations.length) durations = java.util.Arrays.copyOf(durations, n * 2)
      durations(n) = ns; n += 1
    }
  }

  def reset(): Unit = synchronized {
    inflight.set(0); maxInflight.set(0); tasks.clear(); busyNs.set(0); n = 0
  }

  final case class Summary(calls: Long, p50Ms: Double, p99Ms: Double, busyS: Double,
      inflightMax: Int, tasks: Int)

  def summary(): Summary = synchronized {
    val sorted = java.util.Arrays.copyOf(durations, n)
    java.util.Arrays.sort(sorted)
    def pct(p: Double): Double =
      if (n == 0) 0.0 else sorted(math.min(n - 1, math.ceil(p * n).toInt - 1).max(0)) / 1e6
    Summary(n, pct(0.50), pct(0.99), busyNs.get / 1e9, maxInflight.get, tasks.size)
  }
}
