package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** An in-JVM OpenAI-shaped chat-completions stub on two threads: one
  * accepts and parses requests, one timer thread sends each answer after a
  * fixed delay. No thread waits per in-flight request, so the stub never
  * caps the engine's concurrency.
  *
  * Answer: `[model] ` + upper(first 64 chars of the last user message).
  * Injected errors, keyed by prompt: `fatal` prompts always get 401;
  * `transient` prompts get 503 on their first request after [[reset]] only.
  * For requests that carry a system prompt (the grouped fold), the number
  * of user turns must equal the prompt's expected turn; each disagreement is
  * counted in [[turnMismatches]].
  *
  * Start the JVM with `-Dsun.net.httpserver.nodelay=true`: the server's
  * socket otherwise waits on Nagle/delayed-ACK, which costs ~45 ms a call. */
final class StubChatServer(delayMs: Long, inject: Map[String, String],
    expectedTurn: Map[String, Int]) {
  private val mapper = new ObjectMapper()
  private val timer: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor()
  private val acceptor = Executors.newSingleThreadExecutor()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)

  private val seen = ConcurrentHashMap.newKeySet[String]()
  /** requests per prompt since the last reset */
  val calls = new ConcurrentHashMap[String, java.lang.Integer]()
  val requests = new AtomicLong(0)
  val failedSent = new AtomicLong(0)
  val turnMismatches = new AtomicLong(0)
  /** requests that carried no system message */
  val withoutSystem = new AtomicLong(0)
  private val handleNanos = new AtomicLong(0)

  server.setExecutor(acceptor)
  server.createContext("/", (x: HttpExchange) => {
    val t0 = System.nanoTime()
    val body = mapper.readTree(x.getRequestBody.readAllBytes())
    val msgs = body.path("messages")
    var users = 0
    var last = ""
    var system = false
    (0 until msgs.size).foreach { i =>
      val m = msgs.get(i)
      m.path("role").asText match {
        case "user" => users += 1; last = m.path("content").asText
        case "system" => system = true
        case _ => ()
      }
    }
    requests.incrementAndGet()
    calls.merge(last, 1, (a: Integer, b: Integer) => a + b)
    if (system && expectedTurn.get(last).exists(_ != users)) turnMismatches.incrementAndGet()
    if (!system) withoutSystem.incrementAndGet()
    val (status, answer) = inject.get(last) match {
      case Some("fatal") => (401, """{"error":{"message":"Incorrect API key provided"}}""")
      case Some("transient") if seen.add(last) =>
        (503, """{"error":{"message":"The server is overloaded"}}""")
      case _ =>
        val text = s"[${body.path("model").asText}] " +
          last.take(64).toUpperCase(java.util.Locale.ROOT)
        (200, s"""{"choices":[{"index":0,"message":{"role":"assistant","content":""" +
          mapper.writeValueAsString(text) + "}}]}")
    }
    if (status != 200) failedSent.incrementAndGet()
    val bytes = answer.getBytes(StandardCharsets.UTF_8)
    handleNanos.addAndGet(System.nanoTime() - t0)
    timer.schedule(new Runnable {
      def run(): Unit = {
        val t1 = System.nanoTime()
        try {
          x.getResponseHeaders.set("Content-Type", "application/json")
          x.sendResponseHeaders(status, bytes.length)
          x.getResponseBody.write(bytes)
        } finally x.close()
        handleNanos.addAndGet(System.nanoTime() - t1)
      }
    }, delayMs, TimeUnit.MILLISECONDS)
  })
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1"

  /** Mean stub-side handling time per request in ms, excluding the delay. */
  def handlingMsPerRequest: Double =
    if (requests.get == 0) 0.0 else handleNanos.get / 1e6 / requests.get

  /** Start a new pass: transient prompts fail once more, counters restart. */
  def reset(): Unit = {
    seen.clear(); calls.clear(); requests.set(0); failedSent.set(0)
    turnMismatches.set(0); withoutSystem.set(0); handleNanos.set(0)
  }

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow(); acceptor.shutdownNow()
    timer.awaitTermination(10, TimeUnit.SECONDS); acceptor.awaitTermination(10, TimeUnit.SECONDS)
  }
}
