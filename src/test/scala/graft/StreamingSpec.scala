package graft

import graft.enrich.ConversationalTestEnricher
import graft.model.AiConfig
import graft.streaming.{ProgressListener, Streaming}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed event counts over the file stream match the batch computation") {
    val q = Streaming.windowedEventCounts(Streaming.eventsStream(spark, sf))
      .writeStream.format("memory").queryName("win_counts").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // append mode only emits windows closed by the watermark; the final
    // (max event time) windows stay pending — compare the emitted set.
    val streamed = spark.table("win_counts")
      .select(unix_timestamp($"win_start").as("ws"), $"event_type", $"n")
      .as[(Long, String, Long)].collect().toSet
    val batch = Tables.loadEvents(spark, sf)
      .withColumn("ws", $"sec" - pmod($"sec", lit(600L)))
      .groupBy($"ws", $"event_type").agg(count(lit(1)).as("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    // everything except the last (unclosed) windows must have been emitted
    val pendingWindows = batch.map(_._1).max
    val closed = batch.filter(_._1 < pendingWindows - 1800)
    assert(closed.subsetOf(streamed))
  }

  test("streaming session_window matches the batch sessionization on closed sessions") {
    val q = Streaming.sessionizedEvents(Streaming.eventsStream(spark, sf))
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess")
      .select($"user_id", $"n_events").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // batch q26 equivalent (30-min gap) per user
    val batch = graft.queries.EventQueries.q26Sessionize(spark, sf)
      .select($"user_id", $"n_events").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(streamed.nonEmpty)
    // closed (watermark-passed) sessions must agree with batch; the
    // final pending session per user may be withheld — so every
    // streamed user's session multiset is a sub-multiset of batch's
    streamed.foreach { case (u, ns) =>
      val bn = batch.getOrElse(u, Seq.empty)
      assert(ns.diff(bn).isEmpty, s"user $u streamed $ns not within batch $bn")
    }
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    // duplicate the source by unioning the stream with itself
    val s1 = Streaming.eventsStream(spark, sf)
    val s2 = Streaming.eventsStream(spark, sf)
    val q = Streaming.dedupedEvents(s1.unionByName(s2))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val unique = Tables.loadEvents(spark, sf).count()
    assert(spark.table("dedup_out").count() == unique)
    assert(spark.table("dedup_out").select("event_id").distinct().count() == unique)
  }

  test("conversation state persists across micro-batches (T7)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.ConvInput]
    val out = Streaming.conversationStream(
      input.toDS(), ConversationalTestEnricher(), AiConfig.test(), Some("SYS"))
    val q = out.writeStream.format("memory").queryName("conv_out").outputMode("append").start()
    try {
      input.addData(Streaming.ConvInput("g1", 0L, "aa"), Streaming.ConvInput("g1", 1L, "bbb"))
      q.processAllAvailable()
      input.addData(Streaming.ConvInput("g1", 2L, "c"), Streaming.ConvInput("g2", 0L, "dd"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("conv_out").as[Streaming.ConvOutput].collect()
      .sortBy(r => (r.group, r.rowIndex))
    // g1 turn numbers continue across batches: 1,2 then 3 with accumulated chars
    assert(rows.map(r => (r.group, r.turnNumber, r.historyChars)).toSeq ==
      Seq(("g1", 1L, 0L), ("g1", 2L, 2L), ("g1", 3L, 5L), ("g2", 1L, 0L)))
    assert(rows.head.response == "[gpt-test] turn=1 ctx=0")
  }

  test("resumed conversation stream restores mid-group history from the checkpoint") {
    import graft.enrich.{ConversationCheckpoint, EnrichRunner}
    // the q201 corpus shape: A has 4 turns, B has 1; the pause lands
    // after turn 2, so A's stream arrivals are MID-GROUP
    val df = Seq(
      ("A", 1L, "alpha"), ("A", 2L, "bee"), ("A", 3L, "cedar"), ("A", 4L, "d"),
      ("B", 1L, "solo")).toDF("grp", "ord", "prompt")
    val uninterrupted = EnrichRunner.runConversations(df, "grp", Seq("ord"),
        "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"turn_number", $"history_chars", $"response")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    val pre = EnrichRunner.runConversations(df.filter($"ord" <= 2), "grp",
        Seq("ord"), "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"prompt", $"turn_number", $"response")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"convstream-${java.util.UUID.randomUUID.toString.take(8)}"
    val v = ConversationCheckpoint.publish(spark, root, "ckpt", pre,
      "grp", "prompt", cursorTurn = 2L)
    val reg = graft.ext.ArtifactRegistry
    val results = reg.read(spark, root, "ckpt", v, "results")
    val cursor = reg.read(spark, root, "ckpt", v, "cursor")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.ConvInput]
    val out = Streaming.conversationStreamResumed(input.toDS(), results, cursor,
      "grp", "prompt", ConversationalTestEnricher(), AiConfig.test(),
      orderCol = Some("ord"))
    val q = out.writeStream.format("memory").queryName("conv_resume_out")
      .outputMode("append").start()
    try {
      // post-cursor turns arrive across TWO micro-batches: the first
      // sees the REBUILT initial state, the second the state store
      input.addData(Streaming.ConvInput("A", 3L, "cedar"))
      q.processAllAvailable()
      input.addData(Streaming.ConvInput("A", 4L, "d"))
      q.processAllAvailable()
      // a producer REPLAYING an already-checkpointed turn (rowIndex 2
      // ≤ the group's arrival watermark) must fail the micro-batch
      // loudly — the silent alternative re-enriches the turn into a
      // duplicate history entry and shifts every later turn number
      input.addData(Streaming.ConvInput("A", 2L, "bee"))
      val replayErr = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(replayErr.getMessage.contains("watermark") ||
        Option(replayErr.getCause).exists(_.getMessage.contains("watermark")))
    } finally q.stop()
    val rows = spark.table("conv_resume_out").as[Streaming.ConvOutput]
      .collect().sortBy(_.rowIndex).toSeq
    // bit-exact parity with the UNINTERRUPTED batch fold's A turns 3-4:
    // the rebuilt history carries both the turn counter and the chars
    val batchTail = uninterrupted.filter(t => t._1 == "A" && t._3 >= 3L)
      .map(t => ("A", t._3, t._4, t._5))
    assert(rows.map(r => (r.group, r.turnNumber, r.historyChars, r.response))
      == batchTail)
    assert(rows.map(_.response) ==
      Seq("[gpt-test] turn=3 ctx=8", "[gpt-test] turn=4 ctx=13"))
    // a tampered checkpoint refuses EAGERLY — at stream construction,
    // before any micro-batch can emit unretractable rows
    val flipped = results.withColumn("response",
      when($"grp" === "A" && $"turn_number" === 1L, lit("TAMPERED"))
        .otherwise($"response"))
    intercept[IllegalArgumentException] {
      Streaming.conversationStreamResumed(input.toDS(), flipped, cursor,
        "grp", "prompt", ConversationalTestEnricher(), AiConfig.test())
    }
  }

  test("streaming as-of join carries the latest right event across batches") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.{AsofEvent, AsofMatch}
    val input = MemoryStream[AsofEvent]
    val q = Streaming.asofStream(input.toDS())
      .writeStream.format("memory").queryName("asof_out").outputMode("append").start()
    try {
      // batch 1: click(us=100) then purchase(us=150) for user 1;
      // purchase(us=50) for user 2 with no prior click
      input.addData(
        AsofEvent(1L, 100L, isRight = true, eventId = 10L, payload = 10L),
        AsofEvent(1L, 150L, isRight = false, eventId = 11L, payload = 0L),
        AsofEvent(2L, 50L, isRight = false, eventId = 20L, payload = 0L))
      q.processAllAvailable()
      // batch 2: purchase for user 1 — must still see the batch-1 click
      input.addData(AsofEvent(1L, 900L, isRight = false, eventId = 12L, payload = 0L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("asof_out").as[AsofMatch].collect()
      .map(m => m.eventId -> m.asofPayload).toMap
    assert(out(11L) == Some(10L)) // same-batch match
    assert(out(20L) == None)      // no prior right event
    assert(out(12L) == Some(10L)) // state carried across micro-batches
  }

  test("streaming quality gate matches the batch gate on the documents corpus") {
    val docsSchema = Tables.load(spark, sf, "documents").schema
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    val q = Streaming.qualityGateStream(stream, "text")
      .select("doc_id")
      .writeStream.format("memory").queryName("qgate").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("qgate").as[Long].collect().toSet
    val batch = Streaming.qualityGateStream(Tables.load(spark, sf, "documents"), "text")
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("hash_embed runs unchanged on a stream (stateless projection) and matches batch") {
    val docsSchema = Tables.load(spark, sf, "documents").schema
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    import org.apache.spark.sql.functions._
    def embedded(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), graft.functions.GraftFunctions.hashEmbed(col("text"), 16).as("e"))
    val q = embedded(stream)
      .writeStream.format("memory").queryName("embed_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("embed_stream").as[(Long, Seq[Long])].collect().toMap
    val batch = embedded(Tables.load(spark, sf, "documents"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stratified hash sampling runs unchanged on a stream and matches batch (q70 twin)") {
    val docsSchema = Tables.load(spark, sf, "documents").schema
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    val rates = Map("en" -> 5000, "de" -> 2500)
    def sampled(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Mixing.stratifiedSample(df, "doc_id", "lang", rates, defaultBp = 1000)
        .select("doc_id")
    val q = sampled(stream)
      .writeStream.format("memory").queryName("mix_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("mix_stream").as[Long].collect().toSet
    val batch = sampled(Tables.load(spark, sf, "documents")).as[Long].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming DSIR filter matches the batch importance sampler (q144 twin)") {
    val docsB = Tables.load(spark, sf, "documents")
    // weights trained OFFLINE on the batch corpus — the artifact the
    // stream job ships
    val lift = graft.ext.Dsir.liftArray(docsB, "doc_id", "text", $"lang" === "en")
    val docsSchema = docsB.schema
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    val q = Streaming.importanceFilterStream(stream, lift)
      .select($"doc_id", $"score", $"rate_bp")
      .writeStream.format("memory").queryName("dsir_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dsir_stream")
      .as[(Long, Long, Long)].collect().map { case (id, s, r) => id -> ((s, r)) }.toMap
    // the batch join-based scorer + the same keep decision on the same docs
    val batch = graft.ext.Dsir.importanceScores(docsB, "doc_id", "text",
        targetPred = $"lang" === "en")
      .withColumn("rate_bp", graft.ext.Dsir.rateBp($"score"))
      .filter(graft.ext.Mixing.keyBp($"doc_id") < $"rate_bp")
      .select($"doc_id", $"score", $"rate_bp")
      .as[(Long, Long, Long)].collect().map { case (id, s, r) => id -> ((s, r)) }.toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "row-local streaming scores/keeps diverge from the batch join-based scorer")
  }

  test("audio codec chain runs unchanged on a stream (stateless mapPartitions) and matches batch") {
    val docsSchema = Tables.load(spark, sf, "documents").schema
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    import org.apache.spark.sql.functions._
    def features(df: org.apache.spark.sql.DataFrame) =
      graft.ext.AudioCodec.extractAudioFeatures(
          graft.ext.AudioCodec.synthAudioPayload(df.select(col("doc_id")), "doc_id"),
          "payload")
        .select(col("doc_id"), col("n_samples"), col("peak"), col("energy"))
    val q = features(stream)
      .writeStream.format("memory").queryName("audio_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("audio_stream")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = features(Tables.load(spark, sf, "documents"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("temperature mixing applies to a stream via a stream-static rates join") {
    val docsSchema = Tables.load(spark, sf, "documents").schema
    val batchDocs = Tables.load(spark, sf, "documents")
    // rates computed once from the batch corpus (the static side) …
    val rates = graft.ext.Mixing.temperatureRates(batchDocs, "lang")
    // … applied to arriving documents as a stream-static broadcast join
    val stream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    val q = graft.ext.Mixing.sampleWithRates(stream, "doc_id", "lang", rates)
      .select("doc_id")
      .writeStream.format("memory").queryName("mix_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("mix_stream").as[Long].collect().toSet
    val batch = graft.ext.Mixing.sampleWithRates(batchDocs, "doc_id", "lang", rates)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("out-of-order as-of join retro-matches a right event arriving a batch late") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming.{AsofEventT, AsofMatch}
    val input = MemoryStream[AsofEventT]
    def ev(key: Long, us: Long, right: Boolean, id: Long, payload: Long) =
      AsofEventT(key, us, right, id, payload, new java.sql.Timestamp(us / 1000L))
    // 60s watermark delay: after batch 1 (max t=100s) the watermark is
    // 40s, so the t=50s right in batch 2 is NOT late-filtered, while
    // the t=100s left stays buffered until the watermark passes it
    val withWm = input.toDS()
      .withWatermark("eventTime", "60 seconds")
      .as[AsofEventT]
    val q = Streaming.asofStreamOutOfOrder(withWm)
      .writeStream.format("memory").queryName("asof_ooo").outputMode("append").start()
    try {
      // batch 1: a left at t=100s — nothing emitted yet (watermark
      // hasn't passed it, and its matching right hasn't even arrived)
      input.addData(ev(1L, 100000000L, right = false, 11L, 0L))
      q.processAllAvailable()
      assert(spark.table("asof_ooo").count() == 0L)
      // batch 2: the right arrives a micro-batch LATE — earlier in
      // event time (t=50s); a far-future event pushes the watermark
      input.addData(
        ev(1L, 50000000L, right = true, 10L, 77L),
        ev(2L, 1000000000L, right = false, 20L, 0L))
      q.processAllAvailable()
      // batch 3: watermark (from batch 2's max, 1000s-60s=940s) now
      // exceeds the pending left; the event-time timeout flushes it
      input.addData(ev(3L, 1001000000L, right = false, 30L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("asof_ooo").as[AsofMatch].collect()
      .map(m => m.eventId -> m.asofPayload).toMap
    assert(out.contains(11L), s"pending left never emitted; got $out")
    assert(out(11L) == Some(77L)) // retro-matched the late right
  }

  test("ProgressListener observes tasks and records (T1-T4)") {
    val events = scala.collection.mutable.ArrayBuffer.empty[ProgressListener.Event]
    val listener = new ProgressListener(e => events.synchronized { events += e })
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.load(spark, sf, "lineitem").count()
      // listener bus is async; give it a moment to drain
      var waited = 0
      while (listener.tasksCompleted.get() == 0 && waited < 50) {
        Thread.sleep(100); waited += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(listener.tasksCompleted.get() > 0)
    assert(listener.recordsRead.get() > 0)
    assert(events.exists(_.isInstanceOf[ProgressListener.StageCompleted]))
  }

  test("streaming incremental dedup drops known-corpus content and re-deliveries") {
    import graft.functions.TextFunctions.contentHash
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val known = Seq("known text a", "known text b").toDF("text")
      .select(contentHash($"text").as("content_hash"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("id", "text", "ts").withWatermark("ts", "10 minutes")
    val out = Streaming.incrementalDedupStream(docs, "text", known)
    val q = out.writeStream.format("memory").queryName("incdedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, "known text a", ts), (2L, "fresh one", ts), (3L, "fresh one", ts))
      q.processAllAvailable()
      // second batch: a cross-batch re-delivery (4) and new content (5)
      input.addData((4L, "fresh one", ts), (5L, "brand new", ts))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("incdedup_out").select("id").as[Long].collect().toSet
    assert(ids == Set(2L, 5L),
      s"expected known-corpus (1), in-batch dup (3), cross-batch dup (4) dropped; got $ids")
  }

  test("incremental LSH probe runs unchanged on a stream against the static index (q120 twin)") {
    import graft.ext.MinHashLsh
    // the crawl-ingest stream shape: fresh docs arrive as a stream and
    // probe the PERSISTED snapshot index via a stream-static equi join
    // on (band, bslice) — signatures are a stateless projection, the
    // first-match-band dedup is a pure predicate, so no state store
    val docs = Tables.load(spark, sf, "documents")
    val index = MinHashLsh.bandedIndex(
      docs.filter($"doc_id" < 250), "doc_id", "text").localCheckpoint(true)
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
      .filter($"doc_id" >= 250)
    val q = MinHashLsh.nearDupAgainstIndex(stream, "doc_id", "text", index)
      .writeStream.format("memory").queryName("inclsh").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("inclsh")
      .select($"corpus_id", $"fresh_id", $"est_sim")
      .as[(Long, Long, Double)].collect().toSet
    val batch = MinHashLsh.nearDupAgainstIndex(
        docs.filter($"doc_id" >= 250), "doc_id", "text", index)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
  }

  test("streaming SimHash probe matches the batch cross-split probe (q205 twin)") {
    import graft.ext.SimHashDedup
    // q205's probe stage as a stream: fresh docs sign+band row-locally
    // and join the static standing band index; first-match-band is a
    // pure predicate, so exactness carries over with zero state
    val docs = Tables.load(spark, sf, "documents")
    val index = SimHashDedup.bandedIndex(
      docs.filter($"doc_id" < 250), "doc_id", "text").localCheckpoint(true)
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
      .filter($"doc_id" >= 250)
    val q = SimHashDedup.nearDupAgainstIndex(stream, "doc_id", "text", index)
      .writeStream.format("memory").queryName("shprobe").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("shprobe")
      .select($"corpus_id", $"fresh_id", $"hamming")
      .as[(Long, Long, Long)].collect().toSet
    val batch = SimHashDedup.nearDupAgainstIndex(
        docs.filter($"doc_id" >= 250), "doc_id", "text", index)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "a vacuous probe proves nothing")
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
  }

  test("count-min sketch builds on a stream (complete-mode agg) and matches batch") {
    import graft.ext.CountMin
    // the sketch build is a plain bounded-state aggregation, so it runs
    // unchanged as a streaming complete-mode query: ≤ 128 counter rows
    // of state regardless of stream length
    val docs = Tables.load(spark, sf, "documents")
    def toks(df: org.apache.spark.sql.DataFrame) = df
      .filter(length(trim($"text")) > 0)
      .select(explode(graft.functions.TextFunctions.tokens(lower($"text"))).as("term"))
      .filter($"term" =!= "")
    val stream = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
    val q = CountMin.sketch(toks(stream), $"term")
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cms_stream")
      .as[(Long, Long, Long)].collect().toSet
    val batch = CountMin.sketch(toks(docs), $"term")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-stream attribution join matches the batch interval join") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // away from epoch 0: the initial watermark IS 1970-01-01, and rows
    // at-or-before the watermark are dropped as late
    def ts(min: Long) = new java.sql.Timestamp(1600000000000L + min * 60000L)
    val impsIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicksIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val imps = impsIn.toDF().toDF("imp_id", "user_id", "imp_ts")
    val clicks = clicksIn.toDF().toDF("click_id", "user_id", "click_ts")
    val q = Streaming.attributionJoin(imps, clicks)
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try {
      impsIn.addData((1L, 7L, ts(0)), (2L, 7L, ts(100)), (3L, 8L, ts(0)))
      clicksIn.addData((10L, 7L, ts(10)))             // in window of imp 1
      q.processAllAvailable()
      clicksIn.addData((11L, 7L, ts(110)),            // in window of imp 2 only
        (12L, 8L, ts(200)), (13L, 9L, ts(5)))         // 12 too late, 13 no imp
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_out")
      .select($"imp_id", $"click_id").as[(Long, Long)].collect().toSet
    // batch reference on the same rows
    val bi = Seq((1L, 7L, ts(0)), (2L, 7L, ts(100)), (3L, 8L, ts(0)))
      .toDF("imp_id", "user_id", "imp_ts")
    val bc = Seq((10L, 7L, ts(10)), (11L, 7L, ts(110)), (12L, 8L, ts(200)), (13L, 9L, ts(5)))
      .toDF("click_id", "click_user", "click_ts")
    val expected = bi.join(bc, expr(
        "user_id = click_user AND click_ts >= imp_ts AND click_ts <= imp_ts + INTERVAL 30 MINUTES"))
      .select($"imp_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(got === expected && got === Set((1L, 10L), (2L, 11L)))
  }

  test("streaming sliding HLL registers match the batch sketch build (q141 twin)") {
    val q = Streaming.slidingHllRegisters(Streaming.eventsStream(spark, sf))
      .writeStream.format("memory").queryName("shll").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("shll")
      .select(unix_timestamp($"win_start").as("ws"), $"event_type", $"bucket", $"r")
      .as[(Long, String, Long, Long)].collect().toSet
    // batch register build on the same events, q141's window indexing:
    // bucket grp0 feeds windows grp0..grp0+2; window w spans
    // [(w-2)*600, (w+1)*600) so its start is (w-2)*600
    val batch = Tables.loadEvents(spark, sf)
      .select($"event_type", expr("sec DIV 600").as("grp0"), $"user_id")
      .select($"event_type", explode(sequence($"grp0", $"grp0" + 2)).as("w"),
        graft.ext.Hll.bucketRho($"user_id").as("br"))
      .groupBy((($"w" - 2) * 600).as("ws"), $"event_type",
        $"br.bucket".as("bucket"))
      .agg(max($"br.rho").as("r"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      "a streamed register diverged from the batch build")
    // every window closed by the final watermark must have been emitted
    val maxWs = batch.map(_._1).max
    val closed = batch.filter(_._1 < maxWs - 1800)
    assert(closed.subsetOf(streamed),
      "a closed window's registers were never emitted")
  }

  test("streaming decontamination probe matches the batch report (q146 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // static eval fingerprint set from the corpus's eval slice
    val docsB = Tables.load(spark, sf, "documents")
    val evalFps = graft.ext.Winnowing.fingerprints(docsB, "doc_id", "text")
      .filter($"id" % 10 === 0).select($"fp").distinct()
      .localCheckpoint(true)
    // stream a handful of train docs as the fresh crawl batch
    val fresh = docsB.filter($"doc_id" % 10 =!= 0).limit(20)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "event_time")
    val q = Streaming.decontamStream(stream, evalFps)
      .writeStream.format("memory").queryName("decon").outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx) =>
        (id, tx, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      // far-future sentinel closes the window
      input.addData((999999L, "sentinel text long enough to fingerprint ok",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("decon")
      .filter($"doc_id" =!= 999999L)
      .select($"doc_id", $"n_fp", $"n_shared", $"contam_ppm", $"is_contaminated")
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    // batch report restricted to the streamed docs
    val freshIds = fresh.map(_._1).toSet
    val batch = graft.queries.MiningQueries.q146Decontam(spark, sf)
      .filter($"doc_id".isin(freshIds.toSeq: _*))
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      s"stream/batch decontamination divergence")
  }

  test("streaming containment probe matches the batch probe (q155 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsB = Tables.load(spark, sf, "documents")
    // static index over the even-id corpus (q155's layout), pinned so
    // the stream's per-batch re-joins reuse one deterministic build
    val (postings, sets) = graft.ext.Dedup.containmentCorpusIndex(
      docsB.filter($"doc_id" % 2 === 0), "doc_id", "text")
    val postingsP = postings.localCheckpoint(true)
    val setsP = sets.localCheckpoint(true)
    // stream the odd-id fresh slice; keep it small but guaranteed to
    // contain probe hits: take the doc ids the batch probe flags plus
    // a few that it doesn't
    val batchAll = graft.ext.Dedup.containmentAgainstCorpus(
      docsB.filter($"doc_id" % 2 === 1), "doc_id", "text", postingsP, setsP)
    val hitIds = batchAll.select($"doc_id").distinct()
      .as[Long].collect().take(10).toSet
    assert(hitIds.nonEmpty, "corpus has no containment hits to probe")
    val missIds = docsB.filter($"doc_id" % 2 === 1)
      .filter(!$"doc_id".isin(hitIds.toSeq: _*))
      .select($"doc_id").as[Long].collect().take(5).toSet
    val streamedIds = hitIds ++ missIds
    val fresh = docsB.filter($"doc_id".isin(streamedIds.toSeq: _*))
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "event_time")
    val q = Streaming.containmentProbeStream(stream, postingsP, setsP)
      .writeStream.format("memory").queryName("cont_probe").outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx) =>
        (id, tx, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      // far-future sentinel advances the watermark and closes the
      // window; its text must PASS the minShingles filter (which the
      // optimizer pushes below the watermark node) or the watermark
      // never sees it and nothing ever emits
      input.addData((999999999L,
        "the quick brown fox jumps over the lazy dog 0123456789",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cont_probe")
      .filter($"doc_id" =!= 999999999L)
      .select($"doc_id", $"corpus_id", $"n_inter", $"n_doc", $"n_corpus",
        $"doc_in_corpus_ppm", $"corpus_in_doc_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    val batch = batchAll
      .filter($"doc_id".isin(streamedIds.toSeq: _*))
      .select($"doc_id", $"corpus_id", $"n_inter", $"n_doc", $"n_corpus",
        $"doc_in_corpus_ppm", $"corpus_in_doc_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch, "stream/batch containment probe divergence")
  }

  test("streaming block dedup matches the batch probe (q159 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsB = Tables.load(spark, sf, "documents")
    val known = graft.ext.Dedup.blockHashes(
      docsB.filter($"doc_id" % 2 === 0), "text").localCheckpoint(true)
    val fresh = docsB.filter($"doc_id" % 2 === 1).limit(30)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "event_time")
    val q = Streaming.blockDedupStream(stream, known)
      .writeStream.format("memory").queryName("blk_dedup").outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx) =>
        (id, tx, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      // sentinel closes the window (passes the size(t) > 0 filter)
      input.addData((999999999L, "sentinel words flow on",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val cols = Seq("doc_id", "n_blocks", "n_kept", "n_known", "n_removed", "clean_text")
    val streamed = spark.table("blk_dedup")
      .filter($"doc_id" =!= 999999999L)
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSet
    val freshIds = fresh.map(_._1).toSet
    val batch = graft.ext.Dedup.blockDedupAgainstCorpus(
        docsB.filter($"doc_id".isin(freshIds.toSeq: _*)), "doc_id", "text", known)
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch, "stream/batch block dedup divergence")
  }

  test("streaming curriculum routing matches the batch schedule's membership, keys and shards (q192 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsB = Tables.load(spark, sf, "documents")
    val model = graft.ext.SurprisalScore.bigramModel(docsB, "doc_id", "text")
      .localCheckpoint(true)
    val thr = graft.ext.SurprisalScore.ccnetThresholds(
      graft.ext.SurprisalScore.ccnetBuckets(docsB, "doc_id", "text", "lang")
        .select($"lang", $"mb"), "lang").localCheckpoint(true)
    val fresh = docsB.orderBy($"doc_id").limit(40)
      .select($"doc_id", $"text", $"lang").as[(Long, String, String)].collect()
    val input = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "lang", "event_time")
    // no shards argument: the default IS the batch schedule's count
    val q = Streaming.curriculumRouteStream(stream, model, thr)
      .writeStream.format("memory").queryName("curr_route")
      .outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx, lg) =>
        (id, tx, lg, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      input.addData((999999999L, "sentinel words flow on", "xx",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    // (epoch, doc_id) membership + bucket + shard must equal the batch
    // schedule restricted to the streamed ids; pos is loader-side (it
    // depends on the rest of the shard), so it is absent by design
    val streamed = spark.table("curr_route")
      .filter($"doc_id" =!= 999999999L)
      .select($"epoch", $"doc_id", $"bucket", $"shard")
      .as[(Int, Long, String, Long)].collect().toSet
    val freshIds = fresh.map(_._1).toSet
    val expect = graft.queries.CurationQueries.q192Curriculum(spark, sf)
      .filter($"doc_id".isin(freshIds.toSeq: _*))
      .select($"epoch", $"doc_id", $"bucket", $"shard")
      .as[(Int, Long, String, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed.exists(_._1 == 0))
    assert(streamed === expect, "stream/batch curriculum routing divergence")
    // the streamed key reproduces the batch shard mapping exactly
    spark.table("curr_route").filter($"doc_id" =!= 999999999L)
      .select($"skey", $"shard").as[(Long, Long)].collect()
      .foreach { case (k, sh) => assert(
        k * graft.ext.Mixing.ShuffleShards / graft.ext.Mixing.KeyRing == sh) }
  }

  test("streaming epoch resume serves certified suffixes and refuses corrupted cursors (q195 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sched = graft.queries.CurationQueries.q191EpochShuffle(spark, sf)
      .localCheckpoint(true)
    val man = graft.queries.CurationQueries.q193ShardManifest(spark, sf)
      .localCheckpoint(true)
    // tamper ONE shard's checksum: cursors into it must emit nothing
    // while every other shard keeps serving
    val badMan = man.withColumn("xor_skey",
      when($"epoch" === 2 && $"shard" === 5L, $"xor_skey" + 1L)
        .otherwise($"xor_skey")).localCheckpoint(true)
    val n13 = man.filter($"epoch" === 1 && $"shard" === 3L)
      .select($"n_docs").as[Long].head()
    val input = MemoryStream[(Int, Long, Long)]
    val cursors = input.toDF().toDF("epoch", "shard", "ckpt_pos")
    val q = Streaming.epochResumeStream(cursors, sched, badMan)
      .writeStream.format("memory").queryName("epoch_resume")
      .outputMode("append").start()
    try {
      input.addData((1, 3L, n13 / 2), (2, 5L, 0L), (0, 0L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val served = spark.table("epoch_resume")
      .select($"epoch", $"shard", $"ckpt_pos", $"pos", $"doc_id", $"skey")
      .as[(Int, Long, Long, Long, Long, Long)].collect()
    // the corrupted shard's cursor emitted nothing
    assert(!served.exists(r => r._1 == 2 && r._2 == 5L),
      "stream served a shard whose manifest disagreed")
    // the (1, 3, midpoint) cursor reproduces the batch q195 suffix
    val batch = graft.queries.CurationQueries.q195EpochResume(spark, sf)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSet
    assert(served.filter(r => r._1 == 1 && r._2 == 3L).toSet == batch,
      "stream/batch resume divergence")
    // the pos-0 cursor on a healthy shard replays its WHOLE shard
    val full = served.filter(r => r._1 == 0 && r._2 == 0L)
    val n00 = man.filter($"epoch" === 0 && $"shard" === 0L)
      .select($"n_docs").as[Long].head()
    assert(full.length.toLong == n00 && full.map(_._4).sorted.toSeq == (1L to n00))
  }

  test("streaming CCNet buckets match the batch terciles (q158 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsB = Tables.load(spark, sf, "documents")
    // offline training: bigram LM + per-lang tercile thresholds, pinned
    // so the stream's per-batch re-joins reuse one deterministic build
    val model = graft.ext.SurprisalScore.bigramModel(docsB, "doc_id", "text")
      .localCheckpoint(true)
    val batch = graft.ext.SurprisalScore
      .ccnetBuckets(docsB, "doc_id", "text", "lang").localCheckpoint(true)
    val thr = graft.ext.SurprisalScore
      .ccnetThresholds(batch.select($"lang", $"mb"), "lang").localCheckpoint(true)
    val fresh = docsB.orderBy($"doc_id").limit(40)
      .select($"doc_id", $"text", $"lang").as[(Long, String, String)].collect()
    val input = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "lang", "event_time")
    val q = Streaming.ccnetBucketStream(stream, model, thr)
      .writeStream.format("memory").queryName("ccnet_stream").outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx, lg) =>
        (id, tx, lg, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      // far-future sentinel advances the watermark and closes the window
      // (the watermark node sits before the bigram explode/model join,
      // so the sentinel only has to reach it, not survive the join)
      input.addData((999999999L, "sentinel words flow on", "xx",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ccnet_stream")
      .filter($"doc_id" =!= 999999999L)
      .select($"doc_id", $"lang", $"mb", $"bucket")
      .as[(Long, String, Long, String)].collect().toSet
    val freshIds = fresh.map(_._1).toSet
    val expect = batch.filter($"doc_id".isin(freshIds.toSeq: _*))
      .select($"doc_id", $"lang", $"mb", $"bucket")
      .as[(Long, String, Long, String)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === expect, "stream/batch ccnet bucket divergence")
  }

  test("streaming mix monitor matches the batch fold (q175 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsB = Tables.load(spark, sf, "documents")
    val split = 250L
    // offline artifacts: corpus digest set, bigram LM, calibration table
    val known = docsB.filter($"doc_id" < split)
      .select(graft.functions.TextFunctions.contentHash($"text").as("content_hash"))
      .distinct().localCheckpoint(true)
    val model = graft.ext.SurprisalScore.bigramModel(docsB, "doc_id", "text")
      .localCheckpoint(true)
    val scored = graft.ext.SurprisalScore
      .bucketedScores(docsB, "doc_id", "text", "source")
    val calib = graft.ext.SurprisalScore.calibrationTable(scored, "source")
      .localCheckpoint(true)
    // fresh slice: unseen digests, ONE doc per digest (deterministic min
    // id) so the stream's redelivery dedup stage is a provable no-op
    val knownSet = known.as[String].collect().toSet
    val fresh = docsB.filter($"doc_id" >= split)
      .select($"doc_id", $"source", $"text",
        graft.functions.TextFunctions.contentHash($"text").as("h"))
      .as[(Long, String, String, String)].collect()
      .filter(r => !knownSet.contains(r._4))
      .groupBy(_._4).map(_._2.minBy(_._1)).toSeq.sortBy(_._1)
    val input = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "source", "text", "event_time")
    val q = Streaming.mixMonitorStream(stream, known, model, calib)
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode("append").start()
    val t0 = 1000000L
    try {
      input.addData(fresh.map { case (id, src, tx, _) =>
        (id, src, tx, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      // far-future sentinel advances the watermark and closes the window
      input.addData((999999999L, "srcX", "sentinel words flow on",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val ws = new java.sql.Timestamp((t0 / 600000L) * 600000L)
    val streamed = spark.table("mix_stream").filter($"window_start" === ws)
      .select($"source", $"n_unique_scored", $"n_kept", $"tok_kept")
      .as[(String, Long, Long, Long)].collect().toSet
    // batch fold: the q171 calibration rows of the surviving fresh ids
    val freshIds = fresh.map(_._1).toSet
    val ntok = docsB.select($"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val expect = graft.queries.MiningQueries.q171ScoreCalibration(spark, sf)
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
      .filter(r => freshIds.contains(r._1))
      .groupBy(_._2).map { case (src, rs) =>
        val kept = rs.filter(_._5 < 500000)
        (src, rs.length.toLong, kept.length.toLong, kept.map(r => ntok(r._1)).sum)
      }.toSet
    assert(streamed.nonEmpty, "no fresh docs reached the monitor")
    assert(streamed === expect, "stream/batch mix monitor divergence")
  }

  test("streaming source-overlap matrix matches the batch probe fold (q170 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsB = Tables.load(spark, sf, "documents")
    val split = 250L
    val corpus = docsB.filter($"doc_id" < split)
    // the static corpus index with the source tag riding each row
    val index = graft.ext.MinHashLsh
      .bandedIndexWith(corpus, "doc_id", "text", Seq("source"))
      .localCheckpoint(true)
    val fresh = docsB.filter($"doc_id" >= split)
      .select($"doc_id", $"text", $"source").as[(Long, String, String)].collect()
    val input = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "source", "event_time")
    val q = Streaming.sourceOverlapStream(stream, index)
      .writeStream.format("memory").queryName("overlap_stream")
      .outputMode("append").start()
    val t0 = 1000000L
    try {
      input.addData(fresh.map { case (id, tx, src) =>
        (id, tx, src, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      // far-future sentinel advances the watermark and closes the window
      input.addData((999999999L, "sentinel words flow on", "srcX",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val ws = new java.sql.Timestamp((t0 / 600000L) * 600000L)
    val streamed = spark.table("overlap_stream")
      .filter($"window_start" === ws)
      .select($"source_a", $"source_b", $"n_pairs", $"sum_match16")
      .as[(String, String, Long, Long)].collect().toSet
    // batch probe of the same fresh slice, folded to the same matrix
    val srcMap = docsB.select($"doc_id", $"source")
      .as[(Long, String)].collect().toMap
    val pairs = graft.ext.MinHashLsh.nearDupAgainstIndex(
        docsB.filter($"doc_id" >= split), "doc_id", "text",
        graft.ext.MinHashLsh.bandedIndex(corpus, "doc_id", "text"))
      .select($"corpus_id", $"fresh_id", $"est_sim")
      .as[(Long, Long, Double)].collect()
    val expect = pairs.map { case (c, f, est) =>
      val (sa, sb) = (srcMap(c), srcMap(f))
      (if (sa <= sb) (sa, sb) else (sb, sa), math.round(est * 16))
    }.groupBy(_._1).map { case ((sa, sb), vs) =>
      (sa, sb, vs.length.toLong, vs.map(_._2).sum)
    }.toSet
    assert(streamed.nonEmpty, "no cross-split near-dups reached the monitor")
    assert(streamed == expect, "stream/batch overlap matrix divergence")
  }

  test("streaming score calibration matches the batch ppm ranks (q171 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsB = Tables.load(spark, sf, "documents")
    // offline training: bigram LM + the (source, bucket) calibration
    // table, both pinned static
    val model = graft.ext.SurprisalScore.bigramModel(docsB, "doc_id", "text")
      .localCheckpoint(true)
    val scored = graft.ext.SurprisalScore
      .bucketedScores(docsB, "doc_id", "text", "source")
    val calib = graft.ext.SurprisalScore.calibrationTable(scored, "source")
      .localCheckpoint(true)
    val batch = graft.queries.MiningQueries.q171ScoreCalibration(spark, sf)
    val fresh = docsB.orderBy($"doc_id").limit(40)
      .select($"doc_id", $"text", $"source").as[(Long, String, String)].collect()
    val input = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "source", "event_time")
    val q = Streaming.calibrationStream(stream, model, calib)
      .writeStream.format("memory").queryName("calib_stream").outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx, src) =>
        (id, tx, src, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      // far-future sentinel advances the watermark and closes the window
      input.addData((999999999L, "sentinel words flow on", "srcX",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("calib_stream")
      .filter($"doc_id" =!= 999999999L)
      .select($"doc_id", $"source", $"mb", $"bkt",
        $"src_pct_ppm", $"glob_pct_ppm", $"gap_ppm")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().toSet
    val freshIds = fresh.map(_._1).toSet
    val expect = batch.filter($"doc_id".isin(freshIds.toSeq: _*))
      .select($"doc_id", $"source", $"mb", $"bkt",
        $"src_pct_ppm", $"glob_pct_ppm", $"gap_ppm")
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === expect, "stream/batch calibration divergence")
  }

  test("streaming TF-IDF keywords match the batch extraction (q163 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // offline training: the rarity table over the full corpus
    val rarity = graft.queries.TextQueries.tfidfRarity(spark, sf).localCheckpoint(true)
    val batch = graft.queries.TextQueries.q163TfidfKeywords(spark, sf)
    val fresh = Tables.load(spark, sf, "documents").orderBy($"doc_id").limit(40)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "event_time")
    val q = Streaming.tfidfKeywordStream(stream, rarity)
      .writeStream.format("memory").queryName("tfidf_stream").outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx) =>
        (id, tx, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      // far-future sentinel advances the watermark and closes the window
      input.addData((999999999L, "sentinel words flow on",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("tfidf_stream")
      .filter($"doc_id" =!= 999999999L)
      .select($"doc_id", $"rank", $"token", $"tf", $"df", $"score")
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    val freshIds = fresh.map(_._1).toSet
    val expect = batch.filter($"doc_id".isin(freshIds.toSeq: _*))
      .select($"doc_id", $"rank", $"token", $"tf", $"df", $"score")
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === expect, "stream/batch tfidf keyword divergence")
  }

  test("streaming NB scores match the batch classifier (q169 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, sf, "documents")
    // offline training: rule-gate labels on the standing slice
    val gate = graft.ext.QualityGate.gopherGate(docs, "doc_id", "text")
      .select($"doc_id", $"keep")
    val (w, g) = graft.ext.NbClassifier.trainWeights(
      docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text",
      gate.filter($"doc_id" % 10 =!= 0))
    val weights = w.localCheckpoint(true)
    val gRow = g.collect().head
    val (dBits, priorBits) = (gRow.getLong(0), gRow.getLong(1))
    val arrivals = docs.filter($"doc_id" % 10 === 0)
    val batch = graft.ext.NbClassifier.score(
      arrivals, "doc_id", "text", weights, g)
    val fresh = arrivals.select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "event_time")
    val q = Streaming.nbScoreStream(stream, weights, dBits, priorBits)
      .writeStream.format("memory").queryName("nb_stream")
      .outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx) =>
        (id, tx, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      input.addData((999999999L, "sentinel words flow on",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("nb_stream")
      .filter($"doc_id" =!= 999999999L)
      .select($"doc_id", $"n_tokens", $"score_bits", $"nb_keep")
      .as[(Long, Long, Long, Int)].collect().toSet
    val expect = batch
      .select($"id", $"n_tokens", $"score_bits", $"nb_keep")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === expect, "stream/batch NB score divergence")
  }

  test("a live serve rotates registry pins between micro-batches without restart") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = graft.ext.ArtifactRegistry
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"rot-${java.util.UUID.randomUUID.toString.take(8)}"
    val docs = Tables.load(spark, sf, "documents")
    val gate = graft.ext.QualityGate.gopherGate(docs, "doc_id", "text")
      .select($"doc_id", $"keep")
    // two genuinely different generations: v1 trained on the standing
    // slice, v2 on the full corpus
    def publishGen(train: org.apache.spark.sql.DataFrame): Long = {
      val (w, g) = graft.ext.NbClassifier.trainWeights(
        train, "doc_id", "text", gate.join(train.select("doc_id"), "doc_id"))
      reg.publish(spark, root, "nb_model", 0L, Seq("weights" -> w, "globals" -> g))
    }
    val v1 = publishGen(docs.filter($"doc_id" % 10 =!= 0))
    val v2 = publishGen(docs)
    // batch twins straight from the pinned generations (parity target)
    val arrivals = docs.filter($"doc_id" % 10 === 0)
    def twin(v: Long) = graft.ext.NbClassifier.score(arrivals, "doc_id", "text",
        reg.read(spark, root, "nb_model", v, "weights"),
        reg.read(spark, root, "nb_model", v, "globals"))
      .select($"id", $"n_tokens", $"score_bits", $"nb_keep")
      .as[(Long, Long, Long, Int)].collect().toSet
    val (twin1, twin2) = (twin(v1), twin(v2))
    assert(twin1 != twin2, "generations must differ or the rotation proves nothing")
    // the serve: pin v1, stream a batch, FLIP the pin, stream again —
    // one continuous query, no restart
    reg.setPin(spark, root, "nb_model", v1)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[(Long, Long, Long, Int)])]
    val fresh = arrivals.select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.nbServeStreamRotating(
        input.toDF().toDF("doc_id", "text"), root, "nb_model") { (v, scored) =>
      got += ((v, scored
        .select($"id", $"n_tokens", $"score_bits", $"nb_keep",
          $"served_version")
        .collect().map(r => { assert(r.getLong(4) == v);
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)) }).toSet))
    }
    try {
      input.addData(fresh: _*)
      q.processAllAvailable()
      reg.setPin(spark, root, "nb_model", v2) // the rotation
      input.addData(fresh: _*)
      q.processAllAvailable()
    } finally q.stop()
    val nonEmpty = got.filter(_._2.nonEmpty).toSeq
    assert(nonEmpty.map(_._1) == Seq(v1, v2),
      s"expected one batch served from each generation, got ${nonEmpty.map(_._1)}")
    assert(nonEmpty(0)._2 === twin1, "pre-rotation batch must equal the v1 batch twin")
    assert(nonEmpty(1)._2 === twin2, "post-rotation batch must equal the v2 batch twin")
  }

  test("the BM25 serve rotates pins mid-stream (free-text queries, batch-scorer parity)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = graft.ext.ArtifactRegistry
    val bm = graft.ext.Bm25
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"rotb-${java.util.UUID.randomUUID.toString.take(8)}"
    val docs = Tables.load(spark, sf, "documents")
      .filter(length(trim($"text")) > 0)
    def publishGen(corpus: org.apache.spark.sql.DataFrame): Long = {
      val ix = bm.index(corpus, "doc_id", "text")
      reg.publish(spark, root, "bm25_index", 0L, Seq(
        "tf" -> ix.tf, "dl" -> ix.dl, "dfreq" -> ix.dfreq,
        "globals" -> spark.range(1).select(lit(ix.n).as("n"), lit(ix.t).as("t"))))
    }
    val v1 = publishGen(docs.filter($"doc_id" < 250))
    val v2 = publishGen(docs)
    // free-text queries built from corpus terms; the synthetic vocab is
    // ~30 near-universal words (idf_bits 0) plus the rare "dup" — each
    // query carries it so scores are nonzero and generation-dependent
    // (df and the corpus constants differ between the two indexes)
    val qs = Seq((0L, "dup scan data"), (1L, "dup join window merge"))
    def twin(v: Long): Set[(Long, Long, Long, Long)] = {
      val ix = bm.readIndex(spark, reg.versionPath(spark, root, "bm25_index", v))
      val qterms = qs.toDF("qid", "query")
        .select($"qid", explode(graft.functions.TextFunctions.tokens(lower($"query"))).as("term"))
        .filter($"term" =!= "").distinct()
        .join(ix.dfreq, "term")
        .select($"qid", $"term", $"df", $"idf_bits")
      bm.rankTopK(ix.scores(qterms), 10)
        .select($"qid", $"rank", $"id", $"score_fp")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    val (twin1, twin2) = (twin(v1), twin(v2))
    assert(twin1 != twin2, "generations must rank differently")
    reg.setPin(spark, root, "bm25_index", v1)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[(Long, Long, Long, Long)])]
    val input = MemoryStream[(Long, String)]
    val q = Streaming.bm25ServeStreamRotating(
        input.toDF().toDF("qid", "query"), root, "bm25_index") { (v, ranked) =>
      got += ((v, ranked.select($"qid", $"rank", $"id", $"score_fp")
        .as[(Long, Long, Long, Long)].collect().toSet))
    }
    try {
      input.addData(qs: _*); q.processAllAvailable()
      reg.setPin(spark, root, "bm25_index", v2)
      input.addData(qs: _*); q.processAllAvailable()
    } finally q.stop()
    val nonEmpty = got.filter(_._2.nonEmpty).toSeq
    assert(nonEmpty.map(_._1) == Seq(v1, v2))
    assert(nonEmpty(0)._2 === twin1 && nonEmpty(1)._2 === twin2)
  }

  test("the conversation serve rotates checkpoint pins mid-stream (durable-state fold)") {
    import graft.enrich.{ConversationCheckpoint, EnrichRunner}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = graft.ext.ArtifactRegistry
    val df = Seq(
      ("A", 1L, "alpha"), ("A", 2L, "bee"), ("A", 3L, "cedar"), ("A", 4L, "d"),
      ("B", 1L, "solo")).toDF("grp", "ord", "prompt")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"rotc-${java.util.UUID.randomUUID.toString.take(8)}"
    // two genuinely different generations: v1 pauses after turn 2,
    // v2 after turn 3 — the serve's fold depth depends on the pin
    def publishGen(cut: Long): Long = {
      val pre = EnrichRunner.runConversations(df.filter($"ord" <= cut), "grp",
          Seq("ord"), "prompt", ConversationalTestEnricher(), AiConfig.test())
        .select($"grp", $"ord", $"prompt", $"turn_number", $"response")
      ConversationCheckpoint.publish(spark, root, "conv_serve", pre,
        "grp", "prompt", cursorTurn = cut)
    }
    val v1 = publishGen(2L)
    val v2 = publishGen(3L)
    reg.setPin(spark, root, "conv_serve", v1)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long, Long, String)])]
    val input = MemoryStream[(String, Long, String)]
    val q = Streaming.conversationServeStreamRotating(
        input.toDF().toDF("grp", "ord", "prompt"), root, "conv_serve",
        "grp", "ord", "prompt",
        ConversationalTestEnricher(), AiConfig.test()) { (v, out) =>
      got += ((v, out.select($"grp", $"ord", $"turn_number", $"history_chars",
          $"response", $"served_version")
        .collect().map { r =>
          assert(r.getLong(5) == v, "every row rides its serving generation")
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
        }.toSeq))
    }
    try {
      // batch 1 folds A's turn 3 against the v1 checkpoint (replays
      // turns 1-2, enriches turn 3 with the restored history)
      input.addData(("A", 3L, "cedar"))
      q.processAllAvailable()
      reg.setPin(spark, root, "conv_serve", v2) // the rotation
      // batch 2 folds A's turn 4 against v2 (replays 1-3, enriches 4)
      input.addData(("A", 4L, "d"))
      q.processAllAvailable()
    } finally q.stop()
    val nonEmpty = got.filter(_._2.nonEmpty).toSeq
    assert(nonEmpty.map(_._1) == Seq(v1, v2),
      s"expected one batch served from each generation, got ${nonEmpty.map(_._1)}")
    // bit-exact parity with the uninterrupted batch fold's turns 3 and 4
    assert(nonEmpty(0)._2 == Seq(("A", 3L, 3L, 8L, "[gpt-test] turn=3 ctx=8")))
    assert(nonEmpty(1)._2 == Seq(("A", 4L, 4L, 13L, "[gpt-test] turn=4 ctx=13")))
  }

  test("the self-publishing conversation serve closes the durable-state loop") {
    import graft.enrich.{ConversationCheckpoint, EnrichRunner, NondeterministicEnricher}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = graft.ext.ArtifactRegistry
    val df = Seq(
      ("A", 1L, "alpha"), ("A", 2L, "bee"), ("A", 3L, "cedar"), ("A", 4L, "d"),
      ("B", 1L, "solo")).toDF("grp", "ord", "prompt")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"pubc-${java.util.UUID.randomUUID.toString.take(8)}"
    // seed generation: the pause after turn 2, enriched by the real fold
    val pre = EnrichRunner.runConversations(df.filter($"ord" <= 2), "grp",
        Seq("ord"), "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"prompt", $"turn_number", $"response")
    val v1 = ConversationCheckpoint.publish(spark, root, "conv_pub", pre,
      "grp", "prompt", cursorTurn = 2L)
    reg.setPin(spark, root, "conv_pub", v1)
    val uninterrupted = EnrichRunner.runConversations(df, "grp", Seq("ord"),
        "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"turn_number", $"history_chars", $"response")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long, Long, String)])]
    val input = MemoryStream[(String, Long, String)]
    val q = Streaming.conversationServeStreamPublishing(
        input.toDF().toDF("grp", "ord", "prompt"), root, "conv_pub",
        "grp", "ord", "prompt",
        ConversationalTestEnricher(), AiConfig.test()) { (v, out) =>
      got += ((v, out.select($"grp", $"ord", $"turn_number", $"history_chars",
          $"response", $"served_version")
        .collect().map { r =>
          assert(r.getLong(5) == v)
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
        }.toSeq))
    }
    try {
      // batch 1 folds A's turn 3 against v1, then AUTO-publishes and
      // re-pins; batch 2 must fold A's turn 4 against THAT generation
      // — cross-batch continuity with no state store and no manual pin
      input.addData(("A", 3L, "cedar"))
      q.processAllAvailable()
      input.addData(("A", 4L, "d"))
      q.processAllAvailable()
      // REDELIVERY (foreachBatch is at-least-once): the same arrival
      // again must re-emit its persisted row verbatim, publish no new
      // generation, and leave the pin alone
      val pinBefore = reg.currentPin(spark, root, "conv_pub")
      input.addData(("A", 4L, "d"))
      q.processAllAvailable()
      assert(reg.currentPin(spark, root, "conv_pub") == pinBefore,
        "a redelivered batch must not publish a duplicate generation")
    } finally q.stop()
    val nonEmpty = got.filter(_._2.nonEmpty).toSeq
    assert(nonEmpty.size == 3 &&
      nonEmpty(1)._1 > nonEmpty(0)._1 && nonEmpty(2)._1 > nonEmpty(1)._1,
      s"each batch must serve from the generation the previous one published: ${nonEmpty.map(_._1)}")
    assert(nonEmpty(0)._2 == Seq(("A", 3L, 3L, 8L, "[gpt-test] turn=3 ctx=8")))
    assert(nonEmpty(1)._2 == Seq(("A", 4L, 4L, 13L, "[gpt-test] turn=4 ctx=13")))
    // the redelivered batch re-emitted turn 4 bit-identically
    assert(nonEmpty(2)._2 == nonEmpty(1)._2,
      "a redelivered batch must replay its rows verbatim")
    // the final generation IS a complete resumable checkpoint: a batch
    // resume from it replays the ENTIRE conversation set verbatim —
    // bit-equal to the uninterrupted fold, with zero fresh turns. The
    // generation may be a DELTA, so the history is the chain union
    // (chainResults); its cursor certifies exactly that union — and a
    // resume that loaded only the raw delta part would REFUSE (the
    // certificate compare fails), never silently serve a truncated
    // history
    val vFinal = reg.currentPin(spark, root, "conv_pub").get
    assert(ConversationCheckpoint.resumeVerified(df, "grp", Seq("ord"),
        "prompt", reg.read(spark, root, "conv_pub", vFinal, "results"),
        reg.read(spark, root, "conv_pub", vFinal, "cursor"),
        ConversationalTestEnricher(), AiConfig.test()).isEmpty,
      "a bare delta part must refuse to resume — it is not the full history")
    val resumed = ConversationCheckpoint.resumeVerified(df, "grp", Seq("ord"),
        "prompt", ConversationCheckpoint.chainResults(spark, root, "conv_pub", vFinal),
        reg.read(spark, root, "conv_pub", vFinal, "cursor"),
        ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"turn_number", $"history_chars", $"response")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(resumed == uninterrupted,
      "the published loop state must be a valid checkpoint of the uninterrupted run")
    // RESTART: a brand-new query on the same root continues seamlessly
    // — every bit of conversation state lives in the registry, so the
    // stream needs no state store and no handoff from its predecessor
    val restartGot = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, String)]
    val input3 = MemoryStream[(String, Long, String)]
    val q3 = Streaming.conversationServeStreamPublishing(
        input3.toDF().toDF("grp", "ord", "prompt"), root, "conv_pub",
        "grp", "ord", "prompt",
        ConversationalTestEnricher(), AiConfig.test()) { (_, out) =>
      restartGot ++= out.select($"grp", $"ord", $"turn_number", $"history_chars",
          $"response")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4)))
    }
    try {
      input3.addData(("B", 2L, "next"))
      q3.processAllAvailable()
    } finally q3.stop()
    // B's turn 2 folds against B's checkpointed turn 1 ("solo", 4 chars)
    assert(restartGot.toSeq == Seq(("B", 2L, 2L, 4L, "[gpt-test] turn=2 ctx=4")),
      s"restarted query must continue from the registry alone: $restartGot")
    // single-execution discipline: with a NONDETERMINISTIC enricher the
    // publish write populates the cache the sink reads — one enricher
    // call per fresh turn per batch, and the certified responses are
    // exactly the ones the sink saw (the next batch's verify proves it)
    val root2 = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"pubn-${java.util.UUID.randomUUID.toString.take(8)}"
    val preN = pre // deterministic seed is fine; only fresh turns count calls
    val v1n = ConversationCheckpoint.publish(spark, root2, "conv_pub", preN,
      "grp", "prompt", cursorTurn = 2L)
    reg.setPin(spark, root2, "conv_pub", v1n)
    NondeterministicEnricher.calls.set(0)
    val input2 = MemoryStream[(String, Long, String)]
    var sunk = 0
    val q2 = Streaming.conversationServeStreamPublishing(
        input2.toDF().toDF("grp", "ord", "prompt"), root2, "conv_pub",
        "grp", "ord", "prompt",
        new NondeterministicEnricher, AiConfig.test()) { (_, out) =>
      sunk += out.collect().length
    }
    try {
      input2.addData(("A", 3L, "cedar"))
      q2.processAllAvailable()
      input2.addData(("A", 4L, "d"))
      q2.processAllAvailable()
      // a redelivered batch makes ZERO fresh enricher calls even with
      // a nondeterministic enricher — the persisted response replays
      input2.addData(("A", 4L, "d"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(sunk == 3)
    assert(NondeterministicEnricher.calls.get == 2,
      s"each fresh turn must hit the enricher exactly ONCE across publish+sink+retry " +
        s"(got ${NondeterministicEnricher.calls.get})")
  }

  test("publishDelta: an EMPTY delta lands readable; nowhere-bucket pruned read opens no data file") {
    import graft.enrich.ConversationCheckpoint
    val reg = graft.ext.ArtifactRegistry
    val ckpt = ConversationCheckpoint
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"edel-${java.util.UUID.randomUUID.toString.take(8)}"
    val kind = "conv_edelta"
    val seed = Seq(("A", 1L, "p1", 1L, "r1"))
      .toDF("grp", "ord", "prompt", "turn_number", "response")
    val v1 = ckpt.publishDelta(spark, root, kind, seed, "grp", "prompt",
      cursorTurn = 1L, baseVersion = 0L)
    // a ZERO-ROW delta is a legal publish (e.g. a caller without the
    // serve's freshness guard publishing a fully-redelivered batch):
    // a dynamic-partition write of zero rows lands no file, so the
    // registry lands the schema explicitly — the publish must not die
    // in schema inference mid-publish, and the generation must read
    val v2 = ckpt.publishDelta(spark, root, kind, seed.filter(lit(false)),
      "grp", "prompt", cursorTurn = 1L, baseVersion = v1)
    assert(reg.read(spark, root, kind, v2, "results").isEmpty)
    assert(ckpt.chainResults(spark, root, kind, v2).count() == 1L)
    // pruned read on the seed's bucket still yields the full history
    // through the empty link
    val aBuckets = ckpt.touchedBuckets(Seq("A").toDF("grp"), "grp")
    assert(ckpt.chainResults(spark, root, kind, v2, Some(aBuckets))
      .count() == 1L)
    // a pruned read whose buckets exist NOWHERE in a fully-bucketed
    // chain builds its empty frame from the cursor's recorded results
    // schema: correct columns, zero rows, no whole-part inference
    val foreign = (0 until ConversationCheckpoint.NumBuckets)
      .filterNot(aBuckets.toSet).take(1)
    val none = ckpt.chainResults(spark, root, kind, v1, Some(foreign))
    assert(none.columns.toSeq == seed.columns.toSeq && none.isEmpty)
  }

  test("a 100-batch publishing serve holds O(1) generations and O(history) rows") {
    import graft.enrich.{ConversationCheckpoint, EnrichRunner}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = graft.ext.ArtifactRegistry
    val n = 100
    val depth = 8
    val df = (1 to n).map(k => ("A", k.toLong, s"p$k"))
      .toDF("grp", "ord", "prompt")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"pubb-${java.util.UUID.randomUUID.toString.take(8)}"
    // bit-identity oracle: the uninterrupted batch fold over all turns
    val expected = EnrichRunner.runConversations(df, "grp", Seq("ord"),
        "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"ord", $"turn_number", $"history_chars", $"response")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val pre = EnrichRunner.runConversations(df.filter($"ord" <= 1), "grp",
        Seq("ord"), "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"prompt", $"turn_number", $"response")
    reg.setPin(spark, root, "conv_bnd", ConversationCheckpoint.publish(
      spark, root, "conv_bnd", pre, "grp", "prompt", cursorTurn = 1L))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    val input = MemoryStream[(String, Long, String)]
    val q = Streaming.conversationServeStreamPublishing(
        input.toDF().toDF("grp", "ord", "prompt"), root, "conv_bnd",
        "grp", "ord", "prompt", ConversationalTestEnricher(), AiConfig.test(),
        maxChainDepth = depth) { (_, out) =>
      got ++= out.select($"ord", $"turn_number", $"history_chars", $"response")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    }
    // 99 micro-batches of KB-sized data: per-batch cost is pure
    // per-job overhead, so run them single-partition and without AQE's
    // extra materialization stages (both restored after)
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try (2 to n).foreach { k =>
      // one batch carries an IN-BATCH duplicate delivery of the same
      // arrival (single addData call = single block = one micro-batch):
      // it must collapse to ONE fold input row — not trip the
      // turn-position check, not double-enrich, not double-emit
      if (k == 37) input.addData(("A", k.toLong, s"p$k"), ("A", k.toLong, s"p$k"))
      else input.addData(("A", k.toLong, s"p$k"))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    // every batch's emission, bit-identical to the uninterrupted fold
    assert(got.size == n - 1, s"one emission per turn, got ${got.size}")
    assert(got.map(_._1).toSet == (2 to n).map(_.toLong).toSet)
    got.foreach { case (ord, t, h, resp) =>
      assert(expected(ord) == ((t, h, resp)), s"turn $ord diverged: ($t,$h,$resp)")
    }
    // storage bound, the point of delta+compaction+gc: live generation
    // DIRECTORIES stay O(1) (≤ maxChainDepth + 1, vs 100 for a
    // republish-per-batch loop with no gc) and live results rows stay
    // O(history) (vs O(batches × history) ≈ n²/2 ≈ 5050)
    val dirs = new java.io.File(s"$root/conv_bnd").listFiles()
      .map(_.getName).filter(_.matches("v\\d+"))
    assert(dirs.length <= depth + 1,
      s"${dirs.length} live generations exceed the maxChainDepth=$depth bound")
    val liveRows = dirs.map(d =>
      spark.read.parquet(s"$root/conv_bnd/$d/results").count()).sum
    assert(liveRows <= 2L * n, s"live rows $liveRows not O(history)")
    // write amplification: TOTAL rows ever published (the manifest
    // remembers collected generations) stays far below the quadratic
    // full-republish loop's n²/2
    val everRows = reg.manifest(spark, root, "conv_bnd")
      .filter($"part" === "results").agg(sum($"n_rows")).collect()(0).getLong(0)
    assert(everRows < n.toLong * n / 4,
      s"total published rows $everRows suggest quadratic write amplification")
    // the audit trail survives gc: every published generation keeps its
    // manifest rows even after its storage is collected
    assert(reg.manifest(spark, root, "conv_bnd")
      .filter($"part" === "results").count() > dirs.length)
    // and the surviving chain is a complete, certified checkpoint: a
    // batch resume replays ALL 100 turns bit-equal to the oracle
    val vFinal = reg.currentPin(spark, root, "conv_bnd").get
    val resumed = ConversationCheckpoint.resumeVerified(df, "grp", Seq("ord"),
        "prompt",
        ConversationCheckpoint.chainResults(spark, root, "conv_bnd", vFinal),
        reg.read(spark, root, "conv_bnd", vFinal, "cursor"),
        ConversationalTestEnricher(), AiConfig.test())
      .select($"ord", $"turn_number", $"history_chars", $"response")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(resumed == expected,
      "the surviving chain must checkpoint the whole conversation bit-identically")
  }

  test("publishing serve IO is O(touched): per-batch opens stay in touched buckets") {
    // the files-read audit behind the group-bucketed chain layout
    // (ConversationCheckpoint.BucketCol): every non-compaction
    // micro-batch may OPEN results-part data files only inside the
    // batch's own groups' bucket subdirectories — partition pruning
    // proved on the wire through an open-recording FileSystem, while
    // emissions stay bit-identical to the uninterrupted fold
    import graft.enrich.{ConversationCheckpoint, EnrichRunner}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = graft.ext.ArtifactRegistry
    val ckpt = ConversationCheckpoint
    spark.sparkContext.hadoopConfiguration
      .set("fs.oaudit.impl", classOf[OpenAuditFs].getName)
    // three groups in three DISTINCT buckets (names probed against the
    // pinned bucket hash, so the test cannot silently degenerate to a
    // single bucket)
    val groups = ('A' to 'Z').map(g => s"conv$g")
      .map(g => g -> ckpt.touchedBuckets(Seq(g).toDF("grp"), "grp").head)
      .distinctBy(_._2).take(3).map(_._1)
    assert(groups.size == 3)
    val turnsPerGroup = 7
    val df = groups.flatMap(g => (1 to turnsPerGroup).map(k =>
      (g, k.toLong, s"$g-p$k"))).toDF("grp", "ord", "prompt")
    val expected = EnrichRunner.runConversations(df, "grp", Seq("ord"),
        "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"turn_number", $"history_chars", $"response")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val localRoot = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"oaud-${java.util.UUID.randomUUID.toString.take(8)}"
    val root = "oaudit://" + localRoot
    val kind = "conv_oaud"
    // seed with a DELTA-shape publish (baseVersion = 0): bucketed
    // results + gcert from generation one, so the serve's pruned path
    // is active for every audited batch
    val pre = EnrichRunner.runConversations(df.filter($"ord" === 1L), "grp",
        Seq("ord"), "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"prompt", $"turn_number", $"response")
    reg.setPin(spark, root, kind, ckpt.publishDelta(
      spark, root, kind, pre, "grp", "prompt", cursorTurn = 1L,
      baseVersion = 0L))
    val audited = scala.collection.mutable.ArrayBuffer
      .empty[(Set[Int], Boolean, Seq[String])] // (touched, compacted, results opens)
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long, String)]
    var currentTouched: Set[Int] = Set.empty
    val input = MemoryStream[(String, Long, String)]
    val q = Streaming.conversationServeStreamPublishing(
        input.toDF().toDF("grp", "ord", "prompt"), root, kind,
        "grp", "ord", "prompt", ConversationalTestEnricher(), AiConfig.test(),
        maxChainDepth = 4) { (_, out) =>
      got ++= out.select($"grp", $"ord", $"turn_number", $"history_chars", $"response")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4)))
      val nv = reg.currentPin(spark, root, kind).get
      val compacted = ckpt.chain(spark, root, kind, nv).length == 1
      audited += ((currentTouched, compacted,
        OpenAuditFs.snapshot().filter(p =>
          p.contains("/results/") && p.endsWith(".parquet"))))
    }
    // an ALL-NEW-GROUPS batch first (deterministically non-compacting
    // at chain depth 1): its bucket exists in NO chain generation, so
    // the pruned read's empty prior must build from the cursor's
    // recorded results schema — ZERO results data-file opens (the
    // first cut inferred schema from the whole part, opening a foreign
    // bucket's footer on exactly this batch shape)
    val seededBuckets = groups
      .map(g => ckpt.touchedBuckets(Seq(g).toDF("grp"), "grp").head).toSet
    val gNova = ('A' to 'Z').map(c => s"nova$c").find(g =>
      !seededBuckets.contains(
        ckpt.touchedBuckets(Seq(g).toDF("grp"), "grp").head)).get
    val novaExpected = EnrichRunner.runConversations(
        Seq((gNova, 1L, s"$gNova-p1")).toDF("grp", "ord", "prompt"), "grp",
        Seq("ord"), "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"turn_number", $"history_chars", $"response")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    try {
      currentTouched = ckpt.touchedBuckets(Seq(gNova).toDF("grp"), "grp").toSet
      OpenAuditFs.reset()
      input.addData((gNova, 1L, s"$gNova-p1"))
      q.processAllAvailable()
      // the batch's own delta publish reads its LANDED file (own
      // bucket — touched); what must never appear is a foreign
      // bucket's file or a root-level (unbucketed) schema read
      val novaRe = ".*/__bucket=(\\d+)/.*".r
      audited.last._3.foreach {
        case p @ novaRe(b) =>
          assert(currentTouched.contains(b.toInt),
            s"all-new-groups batch opened a foreign bucket's file: $p")
        case p =>
          fail(s"all-new-groups batch did an unbucketed results read " +
            s"(schema inference from a whole part): $p")
      }
      (2 to turnsPerGroup).foreach { k =>
        groups.foreach { g =>
          currentTouched =
            ckpt.touchedBuckets(Seq(g).toDF("grp"), "grp").toSet
          OpenAuditFs.reset()
          input.addData((g, k.toLong, s"$g-p$k"))
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    // bit-identity first: pruning must not change a single emission
    assert(got.size == groups.size * (turnsPerGroup - 1) + 1)
    got.foreach { case (g, ord, t, h, resp) =>
      assert((expected ++ novaExpected)((g, ord)) == ((t, h, resp)),
        s"($g, $ord) diverged under the pruned fold: ($t,$h,$resp)")
    }
    // the audit itself: a non-compaction batch opened results data
    // files ONLY under its own touched buckets' partition directories
    val bucketRe = ".*/__bucket=(\\d+)/.*".r
    val nonCompact = audited.filterNot(_._2)
    assert(nonCompact.size >= groups.size,
      "the run must include several non-compaction batches to audit")
    nonCompact.foreach { case (touched, _, opens) =>
      opens.foreach {
        case p @ bucketRe(b) =>
          assert(touched.contains(b.toInt),
            s"batch touching buckets $touched opened a foreign bucket's file: $p")
        case p =>
          fail(s"unbucketed results file read in a pruned batch: $p")
      }
    }
    // non-vacuous: audited batches really did read results files, and
    // the store really held OTHER buckets' files they skipped
    assert(nonCompact.count(_._3.nonEmpty) >= groups.size,
      "the audit never saw a results read — the probe is vacuous")
    val allBuckets = nonCompact.flatMap(_._3).flatMap {
      case bucketRe(b) => Some(b.toInt); case _ => None
    }.toSet
    assert(allBuckets.size >= 3,
      s"expected 3 distinct buckets on the wire, saw $allBuckets")
    // and at least one compaction happened (depth 4), whose full-chain
    // re-verification is the one legitimate O(history) read
    assert(audited.exists(_._2), "expected a compaction under maxChainDepth=4")
  }

  test("incremental conv verification: verify-what-you-serve; compaction refuses laundering") {
    import graft.enrich.{ConversationCheckpoint, EnrichRunner}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = graft.ext.ArtifactRegistry
    val df = Seq(
      ("A", 1L, "a1"), ("A", 2L, "a2"), ("A", 3L, "a3"), ("A", 4L, "a4"), ("A", 5L, "a5"),
      ("B", 1L, "b1"), ("B", 2L, "b2"), ("B", 3L, "b3"), ("B", 4L, "b4"))
      .toDF("grp", "ord", "prompt")
    val expected = EnrichRunner.runConversations(df, "grp", Seq("ord"),
        "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"turn_number", $"response")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"vwys-${java.util.UUID.randomUUID.toString.take(8)}"
    val kind = "conv_vwys"
    val pre = EnrichRunner.runConversations(
        df.filter($"grp" === "A" && $"ord" <= 2 || $"grp" === "B" && $"ord" <= 1),
        "grp", Seq("ord"), "prompt", ConversationalTestEnricher(), AiConfig.test())
      .select($"grp", $"ord", $"prompt", $"turn_number", $"response")
    reg.setPin(spark, root, kind, ConversationCheckpoint.publish(
      spark, root, kind, pre, "grp", "prompt", cursorTurn = 2L))
    def serve(batches: Seq[(String, Long, String)], depth: Int = 8)
        : Seq[(String, Long, Long, String)] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, String)]
      val input = MemoryStream[(String, Long, String)]
      val q = Streaming.conversationServeStreamPublishing(
          input.toDF().toDF("grp", "ord", "prompt"), root, kind,
          "grp", "ord", "prompt", ConversationalTestEnricher(), AiConfig.test(),
          maxChainDepth = depth) { (_, out) =>
        got ++= out.select($"grp", $"ord", $"turn_number", $"response")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      }
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      got.toSeq
    }
    // build a gcert-covered chain: two deltas, then a geometric
    // compaction (deltas 2+1 >= base 3) that roots full coverage + gc
    serve(Seq(("A", 3L, "a3"), ("B", 2L, "b2"), ("A", 4L, "a4")))
    val vCompact = reg.currentPin(spark, root, kind).get
    assert(ConversationCheckpoint.chain(spark, root, kind, vCompact) == Seq(vCompact),
      "the third batch must have compacted to a self-contained generation")
    assert(ConversationCheckpoint.effectiveGroupCerts(spark, root, kind, vCompact).isDefined,
      "a compaction must root full gcert coverage")
    // one more delta on top, then TAMPER group A's stored history in
    // the compaction's results part (data only — gcert/cursor untouched)
    serve(Seq(("B", 3L, "b3")))
    val resPath = f"$root/$kind/v$vCompact%06d/results"
    val frozen = spark.read.parquet(resPath).localCheckpoint(true)
    frozen.withColumn("response",
        when($"grp" === "A" && $"ord" === 2L, lit("TAMPERED"))
          .otherwise($"response"))
      .write.mode("overwrite").parquet(resPath)
    // a batch touching only B still serves — verify-what-you-serve:
    // B's rows fold to exactly their certified per-group stats
    val gotB = serve(Seq(("B", 4L, "b4")))
    assert(gotB.map(t => ((t._1, t._2), (t._3, t._4))).toMap ==
      Map(("B", 4L) -> expected(("B", 4L))),
      s"an untouched-tamper batch must serve bit-identically: $gotB")
    // a batch touching A REFUSES: its data no longer folds to the
    // standing per-group certificate
    val eA = intercept[Exception] { serve(Seq(("A", 5L, "a5"))) }
    def chainMsgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(chainMsgs(eA).exists(_.contains("certified per-group stats")),
      s"tampered-group fold must refuse: ${chainMsgs(eA).mkString(" | ")}")
    // and a compaction (which would REWRITE the tampered history into a
    // freshly-certified generation) refuses via the full-data check —
    // even though the triggering batch touches only a brand-new group
    val eC = intercept[Exception] { serve(Seq(("C", 1L, "c1")), depth = 1) }
    assert(chainMsgs(eC).exists(_.contains("refusing to compact")),
      s"compaction must not launder a tampered chain: ${chainMsgs(eC).mkString(" | ")}")
  }

  test("the IVF-PQ serve rotates to the upgraded generation mid-stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val reg = graft.ext.ArtifactRegistry
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"rotv-${java.util.UUID.randomUUID.toString.take(8)}"
    // the q194 lifecycle: generation 1 = standing-corpus index,
    // generation 2 = arrivals ADDED, codebooks frozen
    val codes = graft.ext.Quantize.sq8Codes(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding")
      .localCheckpoint(true)
    val old = codes.filter($"id" % 10 =!= 0)
    val fit = graft.ext.KMeansInt.fitConvergedAssign(old,
      k = graft.ext.ProductQuantize.CoarseK, maxRounds = graft.ext.KMeansInt.MaxRounds)
    val idx1 = graft.ext.ProductQuantize.ivfPqIndexFrom(old, fit)
    val v1 = reg.publishIvfPq(spark, root, "ivfpq", 1L, idx1)
    val add = graft.ext.ProductQuantize.ivfPqAdd(codes.filter($"id" % 10 === 0), idx1)
    val (c1, a1, b1, e1) = idx1
    val idx2 = (c1,
      a1.unionByName(add.select($"id", $"coarse")),
      b1,
      e1.unionByName(add.select($"id", posexplode($"pq")).toDF("id", "sub", "cluster")))
    val v2 = reg.publishIvfPq(spark, root, "ivfpq", 2L, idx2)
    val queries = codes.filter($"id" % 10 === 0).limit(8)
      .localCheckpoint(true)
    def twin(v: Long): Set[(Long, Long, Long, Long)] =
      graft.ext.ProductQuantize.ivfPqTopKWith(
          reg.readIvfPq(spark, root, "ivfpq", v), queries, nProbe = 4, topK = 10)
        .select($"qid", $"rank", $"vec_id", $"adc_dist2")
        .as[(Long, Long, Long, Long)].collect().toSet
    val (twin1, twin2) = (twin(v1), twin(v2))
    assert(twin1 != twin2,
      "the upgrade adds the query vectors themselves — results must differ")
    reg.setPin(spark, root, "ivfpq", v1)
    val qrows = queries.select($"id", $"codes")
      .as[(Long, Array[Long])].collect()
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[(Long, Long, Long, Long)])]
    val input = MemoryStream[(Long, Array[Long])]
    val q = Streaming.ivfPqServeStreamRotatingPinned(
        input.toDF().toDF("id", "codes"), root, "ivfpq") { (v, ranked) =>
      got += ((v, ranked.select($"qid", $"rank", $"vec_id", $"adc_dist2")
        .as[(Long, Long, Long, Long)].collect().toSet))
    }
    try {
      input.addData(qrows: _*); q.processAllAvailable()
      reg.setPin(spark, root, "ivfpq", v2)
      input.addData(qrows: _*); q.processAllAvailable()
    } finally q.stop()
    val nonEmpty = got.filter(_._2.nonEmpty).toSeq
    assert(nonEmpty.map(_._1) == Seq(v1, v2))
    assert(nonEmpty(0)._2 === twin1 && nonEmpty(1)._2 === twin2)
  }

  test("streaming CUSUM alarms match the batch fold's count and first alarm (q160 twin)") {
    import Streaming.{CusumAlarm, CusumEventT}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = Tables.loadEvents(spark, sf)
      .select($"user_id", $"us", $"event_id",
        ($"value".cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .localCheckpoint(true)
    val targets = e.groupBy($"user_id")
      .agg(expr("sum(cents) DIV count(1)").as("target")).localCheckpoint(true)
    val batch = graft.operators.AnomalyDetect.cusumWithTargets(e, targets)
      .select($"user_id", $"n_alarms", $"first_alarm_event_id")
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // stream the same events with their targets attached, split across
    // two micro-batches at the event-time median (in-order delivery —
    // the documented cross-batch contract)
    val evs = e.join(targets, "user_id")
      .select($"user_id", $"us", $"event_id", $"cents", $"target")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => CusumEventT(t._1, t._2, t._3, t._4, t._5))
      .sortBy(ev => (ev.us, ev.eventId))
    val input = MemoryStream[CusumEventT]
    val q = Streaming.cusumAlarmStream(input.toDS())
      .writeStream.format("memory").queryName("cusum_alarms")
      .outputMode("append").start()
    try {
      val (first, second) = evs.splitAt(evs.length / 2)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(second.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cusum_alarms").as[CusumAlarm].collect()
    assert(streamed.nonEmpty, "planted corpus produced no alarms to compare")
    val byUser = streamed.groupBy(_.userId)
    for ((u, (nal, fid)) <- batch) {
      val s = byUser.getOrElse(u, Array.empty[CusumAlarm])
      assert(s.length.toLong == nal, s"user $u alarm count: stream ${s.length} batch $nal")
      assert(s.sortBy(_.alarmNo).headOption.map(_.eventId) == fid,
        s"user $u first alarm: stream vs batch $fid")
    }
    assert(byUser.keySet == batch.filter(_._2._1 > 0).keySet)
  }

  test("eventsStream falls back to the legacy schema on an empty landing directory") {
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_empty_events").toString
    // no events.parquet present: the footer sniff fails and the legacy
    // long-nanos schema engages — the stream must still be definable
    val df = Streaming.eventsStream(spark, emptyDir)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(df.schema("event_time").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("streaming gap-fill emits the batch grid rows as the watermark finalizes days (q109 twin)") {
    import Streaming.{GapEvent, GapRow}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val DayMs = 86400000L
    // user 1: days 10, 13 (two events), 15 — gaps at 11-12 and 14;
    // user 2: single day 20. Values in exact cents.
    def ev(u: Long, day: Long, cents: Long, offMs: Long = 1000L) =
      GapEvent(u, day, cents, new java.sql.Timestamp(day * DayMs + offMs))
    val evs = Seq(
      ev(1L, 10L, 1050L), ev(1L, 13L, 1010L), ev(1L, 13L, 200L, 2000L),
      ev(1L, 15L, 330L), ev(2L, 20L, 777L))
    val input = MemoryStream[GapEvent]
    val q = Streaming.gapFillStream(
        input.toDS().withWatermark("eventTime", "0 seconds").as[GapEvent])
      .writeStream.format("memory").queryName("gap_out").outputMode("append").start()
    try {
      // batch 1: only day-10..13 data; nothing final until the
      // watermark passes a day's end
      input.addData(evs.take(3): _*)
      q.processAllAvailable()
      // batch 2: day 15 + user 2 arrive; watermark (day 20) finalizes
      // user 1's days 10-14 — including the silent 11, 12, 14, which
      // must carry day 10's / day 13's values with zero counts
      input.addData(evs.drop(3): _*)
      q.processAllAvailable()
      // batch 3: far-future sentinel pushes the watermark past every
      // buffered day; the event-time timeout flushes user 1's day 15
      // and user 2's day 20 with no new data for either key
      input.addData(ev(99L, 1000L, 1L))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("gap_out").as[GapRow].collect()
      .filter(_.userId != 99L)
      .map(r => (r.userId, r.day) -> ((r.nEvents, r.cumEvents, r.carriedV)))
      .toMap
    val batch = graft.operators.GapFill.dailyGapFill(
        evs.toDF().select($"userId".as("user_id"), $"day",
            expr("CAST(cents AS DECIMAL(12,2)) / 100").as("v"))
          .groupBy($"user_id", $"day")
          .agg(count(lit(1)).as("n"), sum($"v").cast("double").as("dv")))
      .filter($"user_id" =!= 99L)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(streamed === batch, s"stream/batch divergence: $streamed vs $batch")
    // the silent days really are gap-filled carries, not copies of data
    assert(streamed((1L, 12L)) == ((0L, 1L, 10.5)))
    assert(streamed((1L, 14L)) == ((0L, 3L, 12.1)))
  }

  test("streaming anomaly scores bit-match the batch window across micro-batches") {
    import Streaming.{AnomEvent, AnomScore}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two keys, varied values in cents; a spike at event 108
    val cents = Seq(1000L, 1200L, 900L, 1100L, 1050L, 980L, 1020L, 9000L, 1010L, 995L)
    val evs = cents.zipWithIndex.map { case (c, i) =>
      AnomEvent(key = 1L, us = 100L + i, eventId = 100L + i, cents = c)
    } ++ Seq(AnomEvent(2L, 10L, 200L, 500L), AnomEvent(2L, 20L, 201L, 700L),
      AnomEvent(2L, 30L, 202L, 600L), AnomEvent(2L, 40L, 203L, 800L),
      AnomEvent(2L, 50L, 204L, 650L))
    val input = MemoryStream[AnomEvent]
    val q = Streaming.anomalyStream(input.toDS(), lookback = 4, minPrev = 3)
      .writeStream.format("memory").queryName("anom_out").outputMode("append").start()
    try {
      val (first, second) = evs.partition(_.eventId < 107L)
      input.addData(first: _*)
      q.processAllAvailable()
      input.addData(second: _*) // ring state must carry across the batch gap
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anom_out").as[AnomScore].collect()
      .map(s => s.eventId -> ((s.nPrev, s.z))).toMap
    val batch = graft.operators.AnomalyDetect.slidingZScore(
        evs.map(e => (e.key, e.us, e.eventId, e.cents / 100.0)).toDF("k", "us", "event_id", "v"),
        $"k", Seq($"us", $"event_id"), $"v", lookback = 4, minPrev = 3)
      .select($"event_id", $"n_prev", $"z")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed === batch, "stream and batch must agree exactly")
    assert(streamed(107L)._2.exists(z => z > 2.0), "the spike must be flagged")
  }

  test("streaming k-anonymity serve matches the batch release, and unseen combos suppress (q187 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ext.KAnon
    val docs = Tables.load(spark, sf, "documents")
    val (c0, c1, c2) = KAnon.marginals(KAnon.quasi(docs))
    val (f0, f1, f2) = (c0.localCheckpoint(true), c1.localCheckpoint(true),
      c2.localCheckpoint(true)) // the frozen release policy
    val arrivals = docs.select($"doc_id", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, Long)].collect().take(60) :+
      ((999999L, "zz", "web", 100L)) // a combo the corpus never saw
    val input = MemoryStream[(Long, String, String, Long)]
    val stream = input.toDF().toDF("doc_id", "lang", "source", "n_chars")
    val q = KAnon.publish(KAnon.quasi(stream), f0, f1, f2)
      .writeStream.format("memory").queryName("kanon_serve")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      q.processAllAvailable() // stateless: rows emit without a watermark
    } finally q.stop()
    val streamed = spark.table("kanon_serve")
      .as[(Long, String, String, String, Int, Long)].collect().toSet
    val corpusIds = arrivals.dropRight(1).map(_._1).toSet
    val batch = graft.queries.CurationQueries.q187KAnonymize(spark, sf)
      .filter($"doc_id".isin(corpusIds.toSeq: _*))
      .as[(Long, String, String, String, Int, Long)].collect().toSet
    assert(streamed.filter(r => corpusIds(r._1)) === batch,
      "stream/batch k-anonymity divergence on corpus arrivals")
    // the unseen language falls through the whole ladder: suppressed, set size 0
    assert(streamed(((999999L, "*", "*", "*", 3, 0L))),
      s"unseen combo not suppressed: ${streamed.filter(_._1 == 999999L)}")
  }

  test("streaming image dedup matches the batch probe (q161 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ids = Tables.load(spark, sf, "documents").select($"doc_id")
      .repartitionByRange($"doc_id").sortWithinPartitions($"doc_id")
    val packedAll = graft.ext.ImageCodec.synthImagePayload(ids, "doc_id")
    val hashedAll = graft.ext.ImageCodec.imageDHash(packedAll, "payload")
      .select($"doc_id", $"dhash").localCheckpoint(true)
    // static index: the even half's q161 buckets collapsed to keepers
    val known = hashedAll.filter($"doc_id" % 2 === 0)
      .groupBy($"dhash").agg(min($"doc_id").as("keep_id"))
      .localCheckpoint(true)
    // stream a mix of odd docs that DO and do NOT hit a corpus bucket
    val dupIds = hashedAll.filter($"doc_id" % 2 === 1)
      .join(known, "dhash").select($"doc_id").as[Long].collect().take(10).toSet
    assert(dupIds.nonEmpty, "corpus has no cross-parity dHash dups to probe")
    val missIds = hashedAll.filter($"doc_id" % 2 === 1)
      .filter(!$"doc_id".isin(dupIds.toSeq: _*))
      .select($"doc_id").as[Long].collect().take(5).toSet
    val streamedIds = dupIds ++ missIds
    val fresh = packedAll.filter($"doc_id".isin(streamedIds.toSeq: _*))
      .select($"doc_id", $"payload").as[(Long, Array[Byte])].collect()
    val input = MemoryStream[(Long, Array[Byte])]
    val stream = input.toDF().toDF("doc_id", "payload")
    val q = Streaming.imageDedupStream(stream, known)
      .writeStream.format("memory").queryName("img_dedup").outputMode("append").start()
    try {
      input.addData(fresh: _*)
      q.processAllAvailable() // stateless: rows emit without a watermark
    } finally q.stop()
    val streamed = spark.table("img_dedup")
      .select($"doc_id", $"dhash", $"is_dup", $"keep_id")
      .as[(Long, Long, Int, Long)].collect().toSet
    val batch = hashedAll.filter($"doc_id".isin(streamedIds.toSeq: _*))
      .join(known.withColumnRenamed("keep_id", "ck"), Seq("dhash"), "left")
      .select($"doc_id", $"dhash", $"ck".isNotNull.cast("int").as("is_dup"),
        coalesce($"ck", $"doc_id").as("keep_id"))
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed.exists(_._3 == 1))
    assert(streamed === batch, "stream/batch image dedup divergence")
  }

  test("streaming PQ encode matches the batch frozen-codebook encode (q166 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ext.{ProductQuantize, Quantize}
    val codes = Quantize.sq8Codes(
        Tables.load(spark, sf, "embeddings"), "vec_id", "embedding")
      .localCheckpoint(true)
    val old = codes.filter($"id" % 10 =!= 0)
    val fresh = codes.filter($"id" % 10 === 0)
    val books = ProductQuantize.codebooksFromFits(ProductQuantize.subspaceFits(old))
    val lit = ProductQuantize.collectBooks(books)
    val freshRows = fresh.select($"id", $"codes").as[(Long, Array[Long])].collect()
    val input = MemoryStream[(Long, Array[Long])]
    val stream = input.toDF().toDF("vec_id", "codes")
    val q = Streaming.pqEncodeStream(stream, lit)
      .writeStream.format("memory").queryName("pq_enc").outputMode("append").start()
    try {
      input.addData(freshRows: _*)
      q.processAllAvailable() // stateless: rows emit without a watermark
    } finally q.stop()
    val streamed = spark.table("pq_enc")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val batch = ProductQuantize.encodeAgainst(fresh, books)
      .select($"id", element_at($"pq", 1), element_at($"pq", 2),
        element_at($"pq", 3), element_at($"pq", 4), $"recon_dist2")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch, "stream/batch PQ encode divergence")
  }

  test("streaming IVF-PQ vector search matches the batch index probe (q165 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ext.{ProductQuantize, Quantize}
    val codes = Quantize.sq8Codes(
        Tables.load(spark, sf, "embeddings"), "vec_id", "embedding")
      .localCheckpoint(true)
    val idx = ProductQuantize.ivfPqIndex(codes)
    val queries = codes.filter($"id" < 4).localCheckpoint(true)
    val qRows = queries.select($"id", $"codes").as[(Long, Array[Long])].collect()
    val t0 = new java.sql.Timestamp(1000000L)
    val input = MemoryStream[(Long, Array[Long], java.sql.Timestamp)]
    val stream = input.toDF().toDF("qid", "codes", "event_time")
    val q = Streaming.ivfPqServeStream(stream, idx, nProbe = 2, topK = 10)
      .writeStream.format("memory").queryName("ivfpq_serve")
      .outputMode("append").start()
    try {
      input.addData(qRows.map { case (id, cs) => (id, cs, t0) }: _*)
      q.processAllAvailable()
      // advance the watermark so the window finalizes and emits
      input.addData((999999999L, qRows.head._2, new java.sql.Timestamp(
        t0.getTime + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ivfpq_serve")
      .filter($"qid" =!= 999999999L)
      .select($"qid", $"rank", $"vec_id", $"adc_dist2")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = ProductQuantize.ivfPqTopKWith(idx, queries, nProbe = 2, topK = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed.map(_._1).size >= 4)
    assert(streamed === batch, "stream/batch IVF-PQ search divergence")
  }

  test("streaming frozen-tokenizer serve matches the batch q185 profile") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ext.BpeTrain
    val docsB = Tables.load(spark, sf, "documents")
    val trained = BpeTrain.trainBatched(
      BpeTrain.wordDict(docsB.filter($"doc_id" < 250), "text"), 24)
    val rules = BpeTrain.collectMerges(trained.merges)
    val vocab = trained.dict.select($"word").as[String].collect().toSeq
    val fresh = docsB.filter($"doc_id" >= 250).orderBy($"doc_id").limit(40)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = Streaming.bpeApplyStream(stream, rules, vocab)
      .writeStream.format("memory").queryName("bpe_serve")
      .outputMode("append").start()
    try { input.addData(fresh.toSeq: _*); q.processAllAvailable() } finally q.stop()
    val cols = Seq("doc_id", "n_words", "n_oov_words", "n_bpe_tokens",
      "n_chars", "cpt_ppm")
    val streamed = spark.table("bpe_serve").select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSet
    // the gated q185 trains on the same standing slice (deterministic),
    // so its rows restricted to the streamed ids are the batch truth
    val ids = fresh.map(_._1).toSet
    val batch = graft.queries.TextQueries
      .q185PersistedBpeApply(spark, sf)
      .filter($"doc_id".isin(ids.toSeq: _*))
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSet
    assert(streamed.size == 40 && streamed.exists(_._4 > 0))
    assert(streamed === batch, "stream/batch tokenizer serve divergence")
  }

  test("streaming BM25 serve matches the batch persisted-index ranking (q180 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ext.Bm25
    val docs = Tables.load(spark, sf, "documents")
      .filter(length(trim($"text")) > 0)
    val ix0 = Bm25.index(docs, "doc_id", "text")
    // persist + load: the stream must serve from the storage artifact
    val path = java.nio.file.Files.createTempDirectory("bm25serve").toString
    Bm25.writeIndex(ix0, path)
    val ix = Bm25.readIndex(spark, path)
    val qt = ix.queryTerms(4, 3).localCheckpoint(true)
    val batch = Bm25.rankTopK(ix.scores(qt), 10)
      .select($"qid", $"rank", $"id", $"score_fp".cast("string"))
      .as[(Long, Long, Long, String)].collect().toSet
    // the same queries as free text (terms are distinct within a group)
    val qtexts = qt.groupBy($"qid")
      .agg(concat_ws(" ", collect_list($"term")).as("qtext"))
      .as[(Long, String)].collect()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("qid", "qtext", "event_time")
    val q = Streaming.bm25ServeStream(stream, ix)
      .writeStream.format("memory").queryName("bm25_serve")
      .outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(qtexts.map { case (qid, tx) =>
        (qid, tx, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      input.addData((999999L, "sentinel closing words",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    // rankings carry their window: a qid re-queried later must be
    // distinguishable from this window's answer
    assert(spark.table("bm25_serve").columns.contains("window_start"))
    val streamed = spark.table("bm25_serve")
      .filter($"qid" =!= 999999L)
      .select($"qid", $"rank", $"id", $"score_fp".cast("string"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch, "stream/batch BM25 serving divergence")
  }

  test("streaming dup-gram probe matches the batch frozen-dict coverage (q179 twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsB = Tables.load(spark, sf, "documents")
    val dict = graft.ext.DupNgrams.dupGramDict(
        graft.ext.DupNgrams.gramPositions(
          docsB.filter($"doc_id" < 250), "doc_id", "text"))
      .localCheckpoint(true)
    // sample fresh docs that INCLUDE dictionary hits (duplication is
    // sparse at sf0.001 — a prefix slice can be all-zero profiles)
    val profile = graft.ext.DupNgrams.coverageAgainstDict(
      docsB.filter($"doc_id" >= 250), "doc_id", "text", dict)
    val hitIds = profile.filter($"dup_grams" > 0)
      .select($"id").as[Long].collect().toSet
    assert(hitIds.nonEmpty, "corpus has no duplicated grams at this sf")
    val zeroIds = profile.filter($"dup_grams" === 0).orderBy($"id").limit(20)
      .select($"id").as[Long].collect().toSet
    val pick = (hitIds ++ zeroIds).toSeq
    val fresh = docsB.filter($"doc_id".isin(pick: _*))
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "event_time")
    val q = Streaming.dupGramProbeStream(stream, dict)
      .writeStream.format("memory").queryName("dupgram_probe")
      .outputMode("append").start()
    try {
      val t0 = 1000000L
      input.addData(fresh.map { case (id, tx) =>
        (id, tx, new java.sql.Timestamp(t0)) }: _*)
      q.processAllAvailable()
      input.addData((999999999L, "sentinel words flow on",
        new java.sql.Timestamp(t0 + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val cols = Seq("id", "n_tokens", "dup_grams", "covered_tokens", "coverage_ppm")
    // profiles carry their window: a doc_id redelivered later must be
    // distinguishable from this window's profile
    assert(spark.table("dupgram_probe").columns.contains("window_start"))
    val streamed = spark.table("dupgram_probe")
      .filter($"id" =!= 999999999L)
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val freshIds = fresh.map(_._1).toSet
    val batch = graft.ext.DupNgrams.coverageAgainstDict(
        docsB.filter($"doc_id".isin(freshIds.toSeq: _*)), "doc_id", "text", dict)
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed.exists(_._3 > 0),
      "probe emitted no duplicated-gram profile")
    assert(streamed === batch, "stream/batch dup-gram coverage divergence")
  }
}
