package graft

import graft.enrich._
import graft.model.{AiConfig, MappingConfig, OutputConfig, PipelineConfig, PromptTemplate}
import graft.pipeline.BatchPipeline
import org.apache.spark.sql.functions._

class EnrichSpec extends SparkSpec {
  import spark.implicits._

  test("rate limiter enforces the trailing-60s window (E1, main.py:606-629)") {
    var now = 0L
    var slept = Vector.empty[Long]
    val rl = new SlidingWindowRateLimiter(2, () => now, ms => { slept :+= ms; now += ms })
    rl.acquire(); now += 1000
    rl.acquire()              // 2 in window — full
    val waited = rl.acquire() // must wait until t=60000 (oldest at t=0 expires)
    assert(waited == 59000L && slept == Vector(59000L))
    now += 1000 // t=61000: the t=1000 entry has left the window — no wait
    assert(rl.acquire() == 0L)
  }

  test("retry classification + backoff match main.py:571-604") {
    import RetryPolicy._
    assert(classify(new RuntimeException("Rate limit exceeded 429")) == RateLimited)
    assert(classify(new RuntimeException("Invalid API key")) == Fatal)
    assert(classify(new RuntimeException("insufficient quota")) == Fatal)
    assert(classify(new RuntimeException("connection reset")) == Transient)
    assert(backoffMs(RateLimited, 0) == 2000L && backoffMs(RateLimited, 2) == 8000L)
    assert(backoffMs(Transient, 0) == 1000L && backoffMs(Transient, 2) == 4000L)
  }

  test("withRetries retries transient, stops on fatal") {
    var calls = 0
    val ok = RetryPolicy.withRetries(3, _ => ())(() => {
      calls += 1; if (calls < 3) throw new RuntimeException("rate limit") else "done"
    })
    assert(ok.isSuccess && calls == 3)
    var fatalCalls = 0
    val bad = RetryPolicy.withRetries(5, _ => ())(() => {
      fatalCalls += 1; throw new RuntimeException("invalid api key")
    })
    assert(bad.isFailure && fatalCalls == 1)
  }

  test("mapWithResponse quarantines failures instead of dropping (E3)") {
    val df = (1 to 20).map(i => (i.toLong, s"prompt $i")).toDF("id", "prompt").repartition(1)
    val enriched = EnrichRunner.mapWithResponse(df, "prompt",
      new FlakyEnricher(DeterministicEnricher(), failEvery = 5, transient = false),
      AiConfig.test())
    val (ok, bad) = EnrichRunner.quarantine(enriched)
    assert(ok.count() + bad.count() == 20)
    assert(bad.count() == 4) // every 5th call fails fatally (no retry)
    assert(bad.select("error").as[String].head().contains("api key"))
  }

  test("conversation fold threads system prompt + full history in order") {
    val df = Seq((1, 1L, "a"), (1, 2L, "bb"), (1, 3L, "ccc"), (2, 1L, "dddd"))
      .toDF("grp", "seq", "prompt")
    // enricher that snapshots the whole message list deterministically
    val snapshot = new Enricher {
      def enrich(ms: Seq[Message], c: AiConfig): String =
        ms.map(m => s"${m.role}:${m.content}").mkString("|")
    }
    val out = EnrichRunner.runConversations(df, "grp", Seq("seq"), "prompt",
        snapshot, AiConfig.test(), systemPrompt = Some("SYS"))
      .orderBy("grp", "seq")
      .select("response", "turn_number", "history_chars")
      .as[(String, Long, Long)].collect()
    assert(out(0)._1 == "system:SYS|user:a")
    assert(out(1)._1 == "system:SYS|user:a|assistant:system:SYS|user:a|user:bb")
    assert(out(2)._2 == 3L && out(2)._3 == 3L) // prior chars: "a"+"bb"
    assert(out(3)._1 == "system:SYS|user:dddd" && out(3)._2 == 1L) // fresh state per group
  }

  test("grouped runs count a transient failure's retry") {
    val df = Seq((1, 1L, "a"), (1, 2L, "b"), (2, 1L, "c")).toDF("grp", "seq", "prompt")
    val metrics = new EnrichMetrics(spark)
    val out = EnrichRunner.runConversations(df, "grp", Seq("seq"), "prompt",
        new FailOnceEnricher("b"), AiConfig.test(), metrics = Some(metrics))
      .select("response").as[String].collect()
    assert(out.length == 3 && !out.contains(null))
    assert(metrics.retries.value == 1L && metrics.errors.value == 0L)
    assert(metrics.processed.value == 3L)
  }

  test("ungrouped map sends the system prompt before each user prompt") {
    val df = Seq((1L, "About AI"), (2L, "About Python")).toDF("id", "prompt")
    val recording = new Enricher {
      def enrich(ms: Seq[Message], c: AiConfig): String =
        ms.map(m => s"${m.role}:${m.content}").mkString("|")
    }
    def responses(system: Option[String]): Seq[String] =
      EnrichRunner.mapWithResponse(df, "prompt", recording, AiConfig.test(), system)
        .orderBy("id").select("response").as[String].collect().toSeq
    assert(responses(Some("SYS")) ==
      Seq("system:SYS|user:About AI", "system:SYS|user:About Python"))
    assert(responses(None) == Seq("user:About AI", "user:About Python"))
  }

  test("BatchPipeline grouped mode + file-order mode run end-to-end") {
    val df = Seq(("AI", "Teachers", "High"), ("Python", "Students", "Medium"))
      .toDF("topic", "audience", "priority")
    val cfg = PipelineConfig(
      ai = AiConfig.test(),
      mapping = MappingConfig(mainContent = "topic", groupBy = Some("priority")),
      prompt = PromptTemplate("Write an article about {topic} for {audience}"),
      output = OutputConfig(includePrompt = true, includeTimestamp = true))
    val (results, bad, _) = BatchPipeline.run(df, cfg, DeterministicEnricher())
    val rows = results.collect()
    assert(rows.length == 2 && bad.count() == 0)
    assert(results.columns.toSeq == Seq("group", "main_content", "audience", "priority",
      "topic", "prompt", "response", "timestamp", "row_index"))
    assert(rows(0).getAs[String]("response").startsWith("[gpt-test] WRITE AN ARTICLE ABOUT AI"))
    assert(rows(0).getAs[String]("group") == "High")
  }

  test("async enrichment keeps N in flight and preserves input order (E4)") {
    val slowEnricher = new Enricher {
      def enrich(ms: Seq[Message], c: AiConfig): String = {
        Thread.sleep(50); "r:" + ms.last.content
      }
    }
    val df = (1 to 20).map(i => (i.toLong, s"p$i")).toDF("id", "prompt")
      .repartition(1).sortWithinPartitions("id")
    // compare against the sequential runner on the same plan shape so
    // session/codegen overhead cancels out
    val t0 = System.currentTimeMillis()
    EnrichRunner.mapWithResponse(df, "prompt", slowEnricher, AiConfig.test()).collect()
    val seqMs = System.currentTimeMillis() - t0
    val t1 = System.currentTimeMillis()
    val out = EnrichRunner.mapWithResponseAsync(df, "prompt", slowEnricher,
      AiConfig.test(), concurrency = 10).collect()
    val asyncMs = System.currentTimeMillis() - t1
    assert(out.length == 20)
    assert(out.map(_.getAs[String]("response")).toSeq == (1 to 20).map(i => s"r:p$i"))
    // sequential pays 20*50ms of sleeps serially; 10-way pipelining ~2 waves
    assert(asyncMs < seqMs * 0.6, s"no pipelining observed: async=${asyncMs}ms seq=${seqMs}ms")
  }

  test("resumeEnrichment reuses prior rows and enriches only the remainder (T6)") {
    val metrics = new EnrichMetrics(spark)
    val indexed = (0L until 10L).map(i => (i, s"p$i")).toDF("row_index", "prompt")
    val prior = EnrichRunner.mapWithResponse(
      indexed.filter($"row_index" < 6), "prompt", DeterministicEnricher(), AiConfig.test())
    val completed = EnrichRunner.resumeEnrichment(indexed, prior, "prompt",
      DeterministicEnricher(), AiConfig.test(), metrics = Some(metrics))
      .collect() // single action — accumulators count one execution
    assert(completed.length == 10)
    assert(completed.map(_.getAs[Long]("row_index")).toSet == (0L until 10L).toSet)
    assert(metrics.processed.value == 4) // only the missing rows ran
  }

  test("checkpointed pause→resume is bit-exact parity; corruption is refused (T5)") {
    val indexed = (0L until 10L).map(i => (i, s"p$i")).toDF("row_index", "prompt")
    val uninterrupted = EnrichRunner.mapWithResponse(
        indexed, "prompt", DeterministicEnricher(), AiConfig.test())
      .select($"row_index", $"prompt", $"response")
      .orderBy($"row_index").collect().toSeq
    // the pause: first 6 rows enriched, published with their certificate
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"ckpt-${java.util.UUID.randomUUID.toString.take(8)}"
    val pre = EnrichRunner.mapWithResponse(
      indexed.filter($"row_index" < 6), "prompt",
      DeterministicEnricher(), AiConfig.test()).drop("error")
    val v = EnrichCheckpoint.publish(spark, root, "ckpt", pre, cursorPos = 6L)
    val reg = graft.ext.ArtifactRegistry
    val results = reg.read(spark, root, "ckpt", v, "results")
    val cursor = reg.read(spark, root, "ckpt", v, "cursor")
    def resume(res: org.apache.spark.sql.DataFrame,
        cur: org.apache.spark.sql.DataFrame) =
      EnrichCheckpoint.resumeVerified(indexed, res, cur, "prompt",
        DeterministicEnricher(), AiConfig.test())
    // healthy checkpoint: resumed ∪ pre-stop ≡ uninterrupted, bit-exact
    val metrics = new EnrichMetrics(spark)
    val resumedRows = EnrichCheckpoint.resumeVerified(indexed, results, cursor,
        "prompt", DeterministicEnricher(), AiConfig.test(), Some(metrics))
      .select($"row_index", $"prompt", $"response", $"cursor_pos", $"n_prior")
      // ONE action, NO orderBy: a sort's range-sampling pass would
      // execute the enrichment a second time and double the counters
      .collect().toSeq.sortBy(_.getLong(0))
    assert(resumedRows.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      == uninterrupted.map(r => (r.getLong(0), r.getString(1), r.getString(2))))
    assert(metrics.processed.value == 4, "verified prior rows must be reused, not re-enriched")
    assert(resumedRows.map(r => (r.getLong(3), r.getLong(4))).distinct == Seq((6L, 6L)))
    // a tampered response → pair-XOR mismatch → refuse with zero rows
    val flipped = results.withColumn("response",
      when($"row_index" === 3L, lit("TAMPERED")).otherwise($"response"))
    assert(resume(flipped, cursor).count() == 0)
    // two responses SWAPPED between rows (every response-only stat
    // preserved) → the pair binding catches it → refuse
    val swapped = results.withColumn("response",
      when($"row_index" === 1L, lit("[gpt-test] P2"))
        .when($"row_index" === 2L, lit("[gpt-test] P1"))
        .otherwise($"response"))
    assert(resume(swapped, cursor).count() == 0)
    // a truncated prefix (last row missing) → count/max mismatch → refuse
    assert(resume(results.filter($"row_index" < 5), cursor).count() == 0)
    // a tampered cursor position → complete-prefix check fails → refuse
    assert(resume(results,
      cursor.withColumn("cursor_pos", lit(7L))).count() == 0)
  }

  test("grouped conversation pause→resume restores mid-group history; corruption refused") {
    // two conversations: group A with 4 turns, group B with 1 turn —
    // the pause lands after turn 2, so A resumes MID-GROUP (history
    // must be restored before turn 3) and B is already complete
    val df = Seq(
      ("A", 1L, "alpha"), ("A", 2L, "bee"), ("A", 3L, "cedar"), ("A", 4L, "d"),
      ("B", 1L, "solo")).toDF("grp", "ord", "prompt")
    val uninterrupted = EnrichRunner.runConversations(df, "grp", Seq("ord"),
        "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"turn_number", $"history_chars", $"response")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    // the pause: each group's first 2 turns, enriched by the REAL fold
    val prefix = df.filter($"ord" <= 2)
    val pre = EnrichRunner.runConversations(prefix, "grp", Seq("ord"),
        "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"prompt", $"turn_number", $"response")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"convckpt-${java.util.UUID.randomUUID.toString.take(8)}"
    val v = ConversationCheckpoint.publish(spark, root, "ckpt", pre,
      "grp", "prompt", cursorTurn = 2L)
    val reg = graft.ext.ArtifactRegistry
    val results = reg.read(spark, root, "ckpt", v, "results")
    val cursor = reg.read(spark, root, "ckpt", v, "cursor")
    def resume(in: org.apache.spark.sql.DataFrame,
        res: org.apache.spark.sql.DataFrame,
        cur: org.apache.spark.sql.DataFrame,
        metrics: Option[EnrichMetrics] = None) =
      ConversationCheckpoint.resumeVerified(in, "grp", Seq("ord"), "prompt",
        res, cur, ConversationalTestEnricher(), AiConfig.test(), metrics = metrics)
    // healthy checkpoint: resumed ≡ uninterrupted bit-exact, and ONLY
    // the 2 post-cursor turns of group A hit the enricher
    val metrics = new EnrichMetrics(spark)
    val resumed = resume(df, results, cursor, Some(metrics))
      .select($"grp", $"ord", $"turn_number", $"history_chars", $"response",
        $"cursor_turn", $"n_prior")
      .collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))
    assert(resumed.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getString(4))) == uninterrupted)
    assert(metrics.processed.value == 2,
      "replayed turns must not re-enrich — only A's turns 3 and 4 are fresh")
    assert(resumed.map(r => (r.getLong(5), r.getLong(6))).distinct == Seq((2L, 3L)))
    // tampered response → pair-XOR mismatch → refuse with zero rows
    val flipped = results.withColumn("response",
      when($"grp" === "A" && $"turn_number" === 1L, lit("TAMPERED"))
        .otherwise($"response"))
    assert(resume(df, flipped, cursor).count() == 0)
    // responses SWAPPED between A's two turns (response-only stats all
    // preserved) → the (group, turn, prompt, response) binding refuses
    val swapped = results.withColumn("response",
      when($"grp" === "A" && $"turn_number" === 1L, lit("[gpt-test] turn=2 ctx=5"))
        .when($"grp" === "A" && $"turn_number" === 2L, lit("[gpt-test] turn=1 ctx=0"))
        .otherwise($"response"))
    assert(resume(df, swapped, cursor).count() == 0)
    // a HOLE in a group's prefix (turn 1 gone, turn 2 kept) → per-group
    // gap check refuses — replay would silently shift A's history
    assert(resume(df, results.filter(!($"grp" === "A" && $"turn_number" === 1L)),
      cursor).count() == 0)
    // input drift: today's prompt at a checkpointed position changed →
    // the (group, turn, prompt) alignment count refuses — yesterday's
    // response is not a valid replay for a different prompt
    val drifted = df.withColumn("prompt",
      when($"grp" === "A" && $"ord" === 1L, lit("ALPHA-EDITED")).otherwise($"prompt"))
    assert(resume(drifted, results, cursor).count() == 0)
    // ORDER-column tamper: the certificate hashes (group, turn,
    // prompt, response) and would pass, but the replay join keys on
    // (group, ord) — corrupted ord values would silently re-enrich
    // turns that must replay verbatim. The alignment join binds the
    // order columns too, so this refuses like every other tamper.
    val ordTampered = results.withColumn("ord",
      when($"grp" === "A", $"ord" + 100L).otherwise($"ord"))
    val ordMetrics = new EnrichMetrics(spark)
    assert(resume(df, ordTampered, cursor, Some(ordMetrics)).count() == 0)
    assert(ordMetrics.processed.value == 0,
      "a refused checkpoint must trigger ZERO enricher calls — " +
        "verification is eager, the replay plan never executes")
  }

  test("checkpoint certificate binds the LANDED results, not a plan re-execution") {
    // a real pause checkpoints a NONDETERMINISTIC plan (the external
    // API answers differently per call): the certificate must be
    // computed from the landed parquet, or it binds responses that
    // never landed and resumeVerified refuses every healthy checkpoint
    val indexed = (0L until 8L).map(i => (i, s"p$i")).toDF("row_index", "prompt")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"ndckpt-${java.util.UUID.randomUUID.toString.take(8)}"
    NondeterministicEnricher.calls.set(0)
    val pre = EnrichRunner.mapWithResponse(
      indexed.filter($"row_index" < 4), "prompt",
      new NondeterministicEnricher, AiConfig.test()).drop("error")
    val v = EnrichCheckpoint.publish(spark, root, "ckpt", pre, cursorPos = 4L)
    // publish executed the enrichment plan exactly ONCE: 4 external
    // calls, not 8 (the certificate fold read the landed parquet back)
    assert(NondeterministicEnricher.calls.get == 4,
      s"publish must not re-execute the enrichment (calls=${NondeterministicEnricher.calls.get})")
    val reg = graft.ext.ArtifactRegistry
    val results = reg.read(spark, root, "ckpt", v, "results")
    val cursor = reg.read(spark, root, "ckpt", v, "cursor")
    // what storage actually holds (call numbers land in task order —
    // nondeterministic pairing is the whole point)
    val landed = results.select($"row_index", $"response").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val resumed = EnrichCheckpoint.resumeVerified(indexed, results, cursor,
        "prompt", new NondeterministicEnricher, AiConfig.test())
      .select($"row_index", $"response").collect()
    // the healthy checkpoint is ACCEPTED (pre-fix: certificate mismatch
    // → zero rows) and the landed responses survive verbatim
    assert(resumed.length == 8)
    val priorResumed = resumed.filter(_.getLong(0) < 4)
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(priorResumed == landed)
  }

  test("pipeline handles non-ASCII text end-to-end (template, enrich, assemble)") {
    val df = Seq(("héllo wörld", "日本語のテキスト", "naïve"), ("中文文档", "Ω≈ç", "emoji 🚀 ok"))
      .toDF("topic", "audience", "priority")
    val cfg = PipelineConfig(
      ai = AiConfig.test(),
      mapping = MappingConfig(mainContent = "topic", groupBy = Some("priority")),
      prompt = PromptTemplate("Write about {topic} for {audience}"),
      output = OutputConfig(includePrompt = true, includeTimestamp = false))
    val (results, bad, _) = BatchPipeline.run(df, cfg, DeterministicEnricher())
    val rows = results.orderBy("row_index").collect()
    assert(rows.length == 2 && bad.count() == 0)
    assert(rows(0).getAs[String]("prompt") == "Write about héllo wörld for 日本語のテキスト")
    // uppercase preserves non-cased scripts, uppercases Latin
    assert(rows(0).getAs[String]("response").contains("HÉLLO WÖRLD"))
    assert(rows(1).getAs[String]("prompt").contains("中文文档"))
  }

  test("config validation enforces the frontend's rules (V1-V4)") {
    intercept[IllegalArgumentException](AiConfig.test().copy(temperature = 3.0).validated)
    intercept[IllegalArgumentException](
      AiConfig("openai", "gpt-4", apiKey = "bad").validated)
    assert(AiConfig("openai", "gpt-4", apiKey = "sk-x", rateLimit = 999).validated.rateLimit == 60)
    intercept[IllegalArgumentException](PromptTemplate("no placeholders").validated)
    assert(PromptTemplate("{a} and {b} and {a}").placeholders == Seq("a", "b"))
    intercept[IllegalArgumentException](
      PipelineConfig(AiConfig.test(), MappingConfig("zzz"), PromptTemplate("{a}"))
        .validateAgainst(Seq("a", "b")))
  }
}

/** Fails the first call whose last message is `prompt` with a retryable
  * server error, then answers like [[DeterministicEnricher]]. */
final class FailOnceEnricher(prompt: String) extends Enricher {
  private val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
  def enrich(ms: Seq[Message], c: AiConfig): String =
    if (ms.last.content == prompt && failed.compareAndSet(false, true))
      throw new RuntimeException("server overloaded (503)")
    else DeterministicEnricher().enrich(ms, c)
}
