package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.enrich._
import graft.model.{AiConfig, MappingConfig, OutputConfig, PipelineConfig, PromptTemplate}
import graft.pipeline.BatchPipeline
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

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

  test("rate limiter holds its trailing window under 8 concurrent callers (E1)") {
    // a ticking clock: every read advances it 1 ms, a sleep by its length;
    // each thread notes the last time it read, which is the time the
    // limiter records for its acquisition
    val clock = new java.util.concurrent.atomic.AtomicLong(0)
    val lastRead = new ThreadLocal[Long]
    val rl = new SlidingWindowRateLimiter(5,
      () => { val t = clock.incrementAndGet(); lastRead.set(t); t },
      ms => clock.addAndGet(ms))
    val stamps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val callers = (1 to 8).map(_ => new Thread(() =>
      (1 to 25).foreach { _ => rl.acquire(); stamps.add(lastRead.get) }))
    callers.foreach(_.start()); callers.foreach(_.join())
    val times = stamps.asScala.toVector.sorted
    assert(times.size == 200)
    // any 6 acquisitions in a row span a whole minute: no trailing 60 s
    // window holds more than 5
    assert(times.sliding(6).forall(w => w.last - w.head >= 60000L),
      times.sliding(6).find(w => w.last - w.head < 60000L).toString)
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

  test("the window keeps min(rate, 10) calls in flight per task, in input order (E4)") {
    val df = (1 to 40).map(i => (i.toLong, s"p$i")).toDF("id", "prompt")
      .repartition(1).sortWithinPartitions("id")
    def run(cfg: AiConfig): (Seq[String], Int) = {
      CallProbe.reset()
      val out = EnrichRunner.mapWithResponse(df, "prompt", new ProbedEnricher(50), cfg)
        .select("response").as[String].collect().toSeq
      (out, CallProbe.peak("all"))
    }
    val expected = (1 to 40).map(i => s"r:p$i")
    assert(run(AiConfig.test()) == ((expected, 10)))
    assert(run(AiConfig.test().copy(rateLimit = 3)) == ((expected, 3)))
  }

  test("grouped window: a sequential fold's answers, concurrent across groups only (E5)") {
    val cfg = AiConfig.test()
    val rows = for (g <- 0 until 12; t <- 1 to 1 + g % 5)
      yield (s"g$g", t.toLong, s"g$g:" + "x" * (g + t))
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, turns) =>
      turns.sortBy(_._2).foldLeft((Vector.empty[Message], Vector.empty[(String, Long, String)])) {
        case ((history, out), (_, t, prompt)) =>
          val messages = history :+ Message("user", prompt)
          val resp = ConversationalTestEnricher().enrich(messages, cfg)
          (messages :+ Message("assistant", resp), out :+ ((g, t, resp)))
      }._2
    }.sortBy(r => (r._1, r._2))
    CallProbe.reset()
    val out = EnrichRunner.runConversations(rows.toDF("grp", "ord", "prompt"), "grp",
        Seq("ord"), "prompt", new JitteryEnricher(ConversationalTestEnricher()), cfg)
      .select("grp", "ord", "response").as[(String, Long, String)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(out == expected)
    val peaks = CallProbe.peaks
    assert(peaks.collect { case (("group", _), n) => n }.toSet == Set(1),
      s"two turns of one conversation ran at once: $peaks")
    assert(peaks.collect { case (("task", _), n) => n }.max > 1,
      s"no task ran two groups' calls at once: $peaks")
  }

  test("enrich calls on pool threads see their task's context") {
    val df = (1 to 30).map(i => (i.toLong, i % 3, s"p$i")).toDF("id", "grp", "prompt")
      .repartition(3)
    def seen(run: Enricher => org.apache.spark.sql.DataFrame): Seq[Int] = {
      PartitionLog.calls.clear()
      assert(run(new PartitionRecordingEnricher).count() == 30)
      PartitionLog.calls.asScala.toSeq.map(_.intValue)
    }
    val ungrouped = seen(EnrichRunner.mapWithResponse(df, "prompt", _, AiConfig.test()))
    assert(ungrouped.size == 30 && ungrouped.toSet == Set(0, 1, 2))
    val grouped = seen(EnrichRunner.runConversations(df, "grp", Seq("id"), "prompt",
      _, AiConfig.test()))
    assert(grouped.size == 30 && grouped.forall(_ >= 0), s"no task context: $grouped")
  }

  test("resumeConversations replays prior turns without a call; a wrong turn trips the fold") {
    val df = Seq(("A", 1L, "alpha"), ("A", 2L, "bee"), ("A", 3L, "cedar"), ("B", 1L, "solo"))
      .toDF("grp", "ord", "prompt")
    def fold(in: org.apache.spark.sql.DataFrame) =
      EnrichRunner.runConversations(in, "grp", Seq("ord"), "prompt",
        ConversationalTestEnricher(), AiConfig.test())
    val prior = fold(df.filter($"ord" <= 2)).select("grp", "ord", "turn_number", "response")
    def resume(p: org.apache.spark.sql.DataFrame) =
      EnrichRunner.resumeConversations(df, "grp", Seq("ord"), "prompt", p,
          new PromptRecordingEnricher(ConversationalTestEnricher()), AiConfig.test())
        .select("grp", "ord", "response").as[(String, Long, String)]
    PromptLog.prompts.clear()
    assert(resume(prior).collect().sortBy(r => (r._1, r._2)).toSeq ==
      fold(df).select("grp", "ord", "response").as[(String, Long, String)]
        .collect().sortBy(r => (r._1, r._2)).toSeq)
    assert(PromptLog.prompts.asScala.toSeq == Seq("cedar"), "replayed turns must not call")
    val shifted = prior.withColumn("turn_number", $"turn_number" + 1)
    val e = intercept[org.apache.spark.SparkException](resume(shifted).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(
        "resume requires the verified complete prefix")), e.toString)
  }

  test("stop cancels a windowed run; the enricher closes only after the pool drains") {
    val df = (1 to 400).map(i => (i.toLong, s"p$i")).toDF("id", "prompt").repartition(1)
    DrainProbe.reset()
    val stopper = new Thread(() => {
      while (DrainProbe.started.get < 15) Thread.sleep(5)
      graft.pipeline.JobControl.stop(spark, "jg-window")
    })
    stopper.start()
    val result = graft.pipeline.JobControl.runCancellable(spark, "jg-window") {
      EnrichRunner.mapWithResponse(df, "prompt", new DrainProbeEnricher, AiConfig.test()).count()
    }
    stopper.join()
    assert(result.isLeft, s"expected cancellation, got $result")
    val deadline = System.currentTimeMillis() + 30000
    while (DrainProbe.closed.get == 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(DrainProbe.closed.get == 1, "the enricher was not closed")
    val startedAtClose = DrainProbe.started.get
    Thread.sleep(300)
    assert(DrainProbe.started.get == startedAtClose && startedAtClose < 400)
    assert(DrainProbe.violations.isEmpty, DrainProbe.violations.asScala.mkString("; "))
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

  test("a resume drops the previous resume's caches, its prior results included (T6)") {
    val indexed = (0L until 10L).map(i => (i, s"p$i")).toDF("row_index", "prompt")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"leakckpt-${java.util.UUID.randomUUID.toString.take(8)}"
    val reg = graft.ext.ArtifactRegistry
    def checkpoint(cursor: Long) = {
      val pre = EnrichRunner.mapWithResponse(indexed.filter($"row_index" < cursor),
        "prompt", DeterministicEnricher(), AiConfig.test()).drop("error")
      val v = EnrichCheckpoint.publish(spark, root, "ckpt", pre, cursorPos = cursor)
      (reg.read(spark, root, "ckpt", v, "results"), reg.read(spark, root, "ckpt", v, "cursor"))
    }
    val (results4, cursor4) = checkpoint(4L)
    val (results6, cursor6) = checkpoint(6L)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    def resume(results: org.apache.spark.sql.DataFrame,
        cursor: org.apache.spark.sql.DataFrame): Set[Int] = {
      assert(EnrichCheckpoint.resumeVerified(indexed, results, cursor, "prompt",
        DeterministicEnricher(), AiConfig.test()).collect().length == 10)
      persisted -- before
    }
    val first = resume(results4, cursor4)
    val second = resume(results6, cursor6)
    assert(first.nonEmpty && second.size == first.size)
    assert((first & second).isEmpty, s"the first resume's caches leaked: ${first & second}")
    // a refused resume leaves its prior results uncached
    assert(EnrichCheckpoint.resumeVerified(indexed, results4,
      cursor4.withColumn("cursor_pos", lit(7L)), "prompt",
      DeterministicEnricher(), AiConfig.test()).count() == 0)
    assert(results4.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
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

/** JVM-wide call probe (local mode: every task runs in the test JVM):
  * counts the calls running under each key and keeps each key's peak. */
object CallProbe {
  private val running = new java.util.concurrent.ConcurrentHashMap[Any, AtomicInteger]()
  private val peak = new java.util.concurrent.ConcurrentHashMap[Any, AtomicInteger]()
  def reset(): Unit = { running.clear(); peak.clear() }
  def during[T](keys: Any*)(body: => T): T = {
    keys.foreach { k =>
      val n = running.computeIfAbsent(k, _ => new AtomicInteger).incrementAndGet()
      peak.computeIfAbsent(k, _ => new AtomicInteger).accumulateAndGet(n, math.max)
    }
    try body finally keys.foreach(k => running.get(k).decrementAndGet())
  }
  def peak(key: Any): Int = Option(peak.get(key)).fold(0)(_.get)
  def peaks: Map[Any, Int] = peak.asScala.map { case (k, n) => k -> n.get }.toMap
}

/** Answers `r:<prompt>` after `ms` milliseconds, counted under "all". */
final class ProbedEnricher(ms: Long) extends Enricher {
  def enrich(ms0: Seq[Message], c: AiConfig): String =
    CallProbe.during("all") { Thread.sleep(ms); "r:" + ms0.last.content }
}

/** Delays each call by a random 1-24 ms, counted under its group (the
  * prompt's prefix up to ':') and its task. */
final class JitteryEnricher(inner: Enricher) extends Enricher {
  def enrich(ms: Seq[Message], c: AiConfig): String = {
    val group = ms.last.content.takeWhile(_ != ':')
    val task = org.apache.spark.TaskContext.get().taskAttemptId()
    CallProbe.during(("group", group), ("task", task)) {
      Thread.sleep(java.util.concurrent.ThreadLocalRandom.current().nextLong(1, 25))
      inner.enrich(ms, c)
    }
  }
}

object PartitionLog {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
}

/** Records the partition id of the task each call runs in (-1: none). */
final class PartitionRecordingEnricher extends Enricher {
  def enrich(ms: Seq[Message], c: AiConfig): String = {
    val tc = org.apache.spark.TaskContext.get()
    PartitionLog.calls.add(if (tc == null) -1 else tc.partitionId())
    "ok"
  }
}

object PromptLog {
  val prompts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Records the user prompt of every call it forwards. */
final class PromptRecordingEnricher(inner: Enricher) extends Enricher {
  def enrich(ms: Seq[Message], c: AiConfig): String = {
    PromptLog.prompts.add(ms.last.content)
    inner.enrich(ms, c)
  }
}

/** Watches the window's shutdown: a call that starts after `close()`,
  * or a `close()` while calls still run, is a violation. */
object DrainProbe {
  val started = new AtomicInteger(0)
  val running = new AtomicInteger(0)
  val closed = new AtomicInteger(0)
  val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { started.set(0); running.set(0); closed.set(0); violations.clear() }
}

final class DrainProbeEnricher extends Enricher {
  def enrich(ms: Seq[Message], c: AiConfig): String = {
    if (DrainProbe.closed.get > 0) DrainProbe.violations.add("a call started after close()")
    DrainProbe.running.incrementAndGet(); DrainProbe.started.incrementAndGet()
    try { Thread.sleep(100); "ok" } finally DrainProbe.running.decrementAndGet()
  }
  override def close(): Unit = {
    if (DrainProbe.running.get > 0)
      DrainProbe.violations.add(s"close() with ${DrainProbe.running.get} calls running")
    DrainProbe.closed.incrementAndGet()
  }
}
