package graft.enrich

import graft.model.AiConfig

/** One chat turn (`/root/reference/main.py:327,404-431` history shape). */
final case class Message(role: String, content: String)

/** Pluggable external-map contract (SURVEY.md §2.9 E2). The reference
  * hard-wires OpenAI/Anthropic clients (`main.py:533-568`); our engine
  * makes the enricher a trait so the data plane is testable and
  * deterministic without network access. Implementations must be
  * Serializable — one instance is shipped per task and lazily
  * initialized per partition (connection reuse, no per-row setup).
  */
trait Enricher extends Serializable {
  /** Called once per partition before first use — the place to open a
    * client/connection (reference: client built once per job,
    * main.py:314-318).
    *
    * Thread-safety: every `EnrichRunner` runner calls `enrich` from a
    * per-task pool, up to `min(rateLimit, 10)` calls at once (only the
    * turns of one conversation are serial), so implementations must be
    * thread-safe. `TaskContext.get()` inside `enrich` is the calling
    * task's. */
  def open(): Unit = ()
  /** messages = full conversation so far, last entry the user prompt. */
  def enrich(messages: Seq[Message], config: AiConfig): String
  def close(): Unit = ()
}

/** Deterministic stand-in for the external AI call (BASELINE.md: the
  * test configuration replaces the API with a local function so the
  * data plane is Spark-bound). Pure function of the prompt — this exact
  * semantics is mirrored in oracle SQL:
  * `'[' || model || '] ' || upper(substr(prompt, 1, 64))`.
  */
final case class DeterministicEnricher() extends Enricher {
  override def enrich(messages: Seq[Message], config: AiConfig): String =
    s"[${config.model}] " + messages.last.content.toUpperCase(java.util.Locale.ROOT).take(64)
}

/** Deterministic *stateful* enricher for conversation-fold tests: the
  * response encodes the turn number and accumulated user-prompt chars,
  * proving the fold threads history (reference: sequential grouped
  * processing, main.py:508-512). SQL twin:
  * `'[' || model || '] turn=' || turn || ' ctx=' || chars`. */
final case class ConversationalTestEnricher() extends Enricher {
  override def enrich(messages: Seq[Message], config: AiConfig): String = {
    val userTurns = messages.count(_.role == "user")
    val priorUserChars = messages.dropRight(1).filter(_.role == "user").map(_.content.length).sum
    s"[${config.model}] turn=$userTurns ctx=$priorUserChars"
  }
}

/** Deliberately NONDETERMINISTIC enricher: every call stamps a global
  * call counter into the response, modeling a real external API that
  * answers differently per call. Exists to pin the checkpoint-publish
  * discipline (EnrichSpec): the pause certificate must describe the
  * LANDED results part, because re-executing this enricher's plan
  * yields responses that never landed (and doubles the API calls).
  * Single-JVM counter — exactly the local[32] test scope it serves. */
final class NondeterministicEnricher extends Enricher {
  override def enrich(messages: Seq[Message], config: AiConfig): String =
    s"[${config.model}] call=${NondeterministicEnricher.calls.incrementAndGet()} " +
      messages.last.content
}
object NondeterministicEnricher {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Error-injecting wrapper for retry/quarantine tests (E2/E3).
  * Atomic counter: safe under the runners' concurrent calls. */
final class FlakyEnricher(inner: Enricher, failEvery: Int, transient: Boolean)
    extends Enricher {
  private val callCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  override def enrich(messages: Seq[Message], config: AiConfig): String = {
    val calls = callCounter.incrementAndGet()
    if (failEvery > 0 && calls % failEvery == 0) {
      if (transient) throw new RuntimeException("rate limit exceeded (429)")
      else throw new RuntimeException("invalid api key")
    }
    inner.enrich(messages, config)
  }
}
