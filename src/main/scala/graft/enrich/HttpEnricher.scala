package graft.enrich

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.model.AiConfig

/** HTTP status + body carried to the retry layer. The message embeds the
  * reference's canonical error wording (`/root/reference/main.py:583-604`)
  * so `RetryPolicy.classify`'s substring taxonomy (F9) buckets it the
  * same way the reference buckets SDK exceptions. */
final class EnrichHttpException(val status: Int, message: String)
    extends RuntimeException(message)

/** The real external-map client (SURVEY.md §2.9 E2): an
  * OpenAI/Anthropic-compatible chat-completions REST caller over JDK
  * `java.net.http` — the engine's equivalent of the reference's
  * `AsyncOpenAI` / `AsyncAnthropic` clients (`main.py:314-318`) and its
  * `call_ai_api` request/parse/error logic (`main.py:533-604`).
  *
  * Dispatch on `config.service`:
  *   - `"openai"`     → POST `{baseUrl}/chat/completions`, bearer auth,
  *     full message list verbatim, answer at `choices[0].message.content`
  *     (main.py:538-545);
  *   - `"anthropic"`  → POST `{baseUrl}/messages`, `x-api-key` +
  *     `anthropic-version` headers, system turns lifted into the
  *     top-level `system` field, answer at `content[0].text`
  *     (main.py:546-568).
  *
  * Retry/backoff/quarantine live OUTSIDE this class — `EnrichRunner`
  * wraps every call in `RetryPolicy.withRetries`, so this client's only
  * retry duty is throwing messages the classifier understands. It is
  * Serializable (state = strings), builds its `HttpClient` in `open()`
  * per partition, and is thread-safe (JDK HttpClient + a shared
  * immutable ObjectMapper), as the concurrent runners require.
  *
  * The oracle gate never exercises this class — `DeterministicEnricher`
  * stays the data plane's default; specs drive this against a local
  * stub server (HttpEnricherSpec), never the live network.
  */
final class HttpChatEnricher(
    baseUrl: String,
    requestTimeoutMs: Long = 120000L,
    anthropicVersion: String = "2023-06-01") extends Enricher {

  // volatile: enrich() lazily self-initializes outside `open()`'s lock,
  // so a concurrent reader needs the happens-before edge or it could
  // observe a partially constructed HttpClient
  @volatile @transient private var client: HttpClient = _

  override def open(): Unit = synchronized {
    if (client == null)
      client = HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(requestTimeoutMs))
        .build()
  }

  override def enrich(messages: Seq[Message], config: AiConfig): String = {
    if (client == null) open()
    val openai = config.service != "anthropic"
    val request = if (openai) openAiRequest(messages, config)
                  else anthropicRequest(messages, config)
    val response =
      try client.send(request, HttpResponse.BodyHandlers.ofString())
      catch { // connect/read failures: no taxonomy keyword → Transient → retried
        case e: java.io.IOException =>
          throw new RuntimeException(s"connection error: ${e.getMessage}", e)
      }
    val status = response.statusCode()
    if (status >= 200 && status < 300) parseAnswer(response.body(), openai, config)
    else throw describeFailure(status, response.body(), config)
  }

  private def openAiRequest(messages: Seq[Message], config: AiConfig): HttpRequest = {
    val root = HttpChatEnricher.mapper.createObjectNode()
    root.put("model", config.model)
    root.put("temperature", config.temperature)
    root.put("max_tokens", config.maxTokens)
    val arr = root.putArray("messages")
    messages.foreach { m =>
      val node = arr.addObject(); node.put("role", m.role); node.put("content", m.content)
    }
    jsonPost(s"$baseUrl/chat/completions", root)
      .header("Authorization", s"Bearer ${config.apiKey}")
      .build()
  }

  private def anthropicRequest(messages: Seq[Message], config: AiConfig): HttpRequest = {
    val root = HttpChatEnricher.mapper.createObjectNode()
    root.put("model", config.model)
    root.put("temperature", config.temperature)
    root.put("max_tokens", config.maxTokens)
    // system turns move to the top-level field (main.py:547-566)
    val system = messages.filter(_.role == "system").map(_.content)
    if (system.nonEmpty) root.put("system", system.mkString("\n"))
    val arr = root.putArray("messages")
    messages.filterNot(_.role == "system").foreach { m =>
      val node = arr.addObject(); node.put("role", m.role); node.put("content", m.content)
    }
    jsonPost(s"$baseUrl/messages", root)
      .header("x-api-key", config.apiKey)
      .header("anthropic-version", anthropicVersion)
      .build()
  }

  private def jsonPost(url: String, body: JsonNode): HttpRequest.Builder =
    HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(requestTimeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        HttpChatEnricher.mapper.writeValueAsString(body)))

  private def parseAnswer(body: String, openai: Boolean, config: AiConfig): String = {
    val root =
      try HttpChatEnricher.mapper.readTree(body)
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          throw new RuntimeException(s"unparseable ${config.service} response: ${e.getMessage}")
      }
    val answer =
      if (openai) root.path("choices").path(0).path("message").path("content")
      else root.path("content").path(0).path("text")
    if (answer.isTextual) answer.asText()
    else throw new RuntimeException(
      s"malformed ${config.service} response (no answer field): ${body.take(200)}")
  }

  /** Status/body → the reference's canonical error messages
    * (main.py:571-604). Every branch's wording keeps the substring its
    * `RetryPolicy.classify` bucket keys on. */
  private def describeFailure(status: Int, body: String, config: AiConfig): EnrichHttpException = {
    val lower = body.toLowerCase(java.util.Locale.ROOT)
    val snippet = body.take(200)
    val msg =
      if (status == 429 || lower.contains("rate limit"))
        s"Rate limit exceeded (429): $snippet"                         // → RateLimited
      else if (status == 401 || status == 403 || (lower.contains("invalid") && lower.contains("key")))
        "Invalid API key. Please check your credentials."              // → Fatal (main.py:583-584)
      else if (lower.contains("quota") || lower.contains("billing") || lower.contains("credits")) {
        if (config.service == "anthropic")
          "Anthropic API credits exhausted. Please check your usage or upgrade your plan. (quota)"
        else
          "API quota exceeded or billing issue. Please check your account."
      }                                                                // → Fatal (main.py:586-590)
      else if (lower.contains("model") && lower.contains("not found"))
        s"Model not found: '${config.model}' is not available. Please select a different model." // → Fatal (main.py:592-596)
      else
        s"API error (HTTP $status): $snippet"                          // → Transient → retried
    new EnrichHttpException(status, msg)
  }
}

object HttpChatEnricher {
  /** Shared, thread-safe after construction; @transient not needed — the
    * object is not serialized with the enricher instance. */
  private val mapper = new ObjectMapper()
}
