package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.enrich.{Enricher, Message}
import graft.model.AiConfig

/** Structured Streaming twins of the engine's batch operators
  * (SURVEY.md §2.8).
  *
  * A stream differs from a batch in three ways: it carries a
  * watermark, it carries an event-time window key, and it runs a
  * windowed aggregate where the batch runs `distinct`. So a windowed
  * twin is its batch operator's core applied to a [[windowed]] stream:
  * the core takes the window as a pass-through key and puts it in
  * front of its per-document `groupBy` (block dedup, exact-substring
  * coverage, NB scoring, TF-IDF keywords, the surprisal scorers). A
  * stateless stream-static probe needs no twin at all: the batch call
  * runs on a stream as it is (`SimHashDedup.nearDupAgainstIndex`,
  * `KAnon.publish`). What stays here is what is truly streaming: keyed
  * state in `flatMapGroupsWithState` (as-of, CUSUM, gap-fill, anomaly,
  * conversation) and the registry-pin rotating serves (`foreachBatch`).
  *
  * The reference's streaming-shaped behaviors map to:
  *   T1-T4 progress/error/completion events → StreamingQueryListener /
  *          [[graft.streaming.ProgressListener]]
  *   T5/T6 pause-resume / stop-with-partial → query.stop() + checkpoint
  *          (documented semantic mapping; exercised in the spec)
  *   T7    keyed conversation state → [[conversationStream]]
  *          (flatMapGroupsWithState — unbounded per-key state, ordered
  *          updates within each micro-batch)
  */
object Streaming {

  /** File-source stream over the events parquet with a proper event-time
    * column. At scale this is the same code against a Kafka/object-store
    * source — the transforms below don't change.
    *
    * The file source needs an explicit schema, which must match the
    * file encoding — the generator has shipped `ts` both as parquet
    * TIMESTAMP(NANOS) (long nanos under the legacy conf) and as plain
    * micros TIMESTAMP / TIMESTAMP_NTZ — so the schema is sniffed from
    * a one-off batch read of the footer (metadata only, no data scan).
    * A hardcoded long-nanos schema over a micros file would silently
    * read micros AS nanos: every event time 1000× too small, every
    * window wrong — the bug class schema sniffing exists to kill.
    *
    * Precondition: the sniff needs at least one file present at stream
    * DEFINITION time. On an empty landing directory (no footer to read)
    * it falls back to the legacy long-nanos schema — the generator's
    * original encoding — so a stream can still be defined before any
    * file lands; once files use the micros encoding the sniff sees
    * them and the fallback never engages. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // the batch loader owns the encoding decision: its read sets the
    // nanos-as-long conf (before the read, so the fallback path sets it
    // too) and its epoch-micros column is the event time
    val schema =
      try graft.Tables.load(spark, dir, "events").schema
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          StructType(Seq( // legacy generator encoding: ts = long nanos
            StructField("event_id", LongType), StructField("ts", LongType),
            StructField("user_id", LongType), StructField("event_type", StringType),
            StructField("value", DoubleType), StructField("props", StringType)))
      }
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet") // file source needs a dir
      .parquet(dir)
      .withColumn("event_time", timestamp_micros(graft.Tables.eventsUs(schema("ts").dataType)))
  }

  /** The two things a stream adds to a batch core: a 10-minute
    * watermark on `event_time`, and the event-time window it closes,
    * pre-projected as the `window` column. A core takes the window as
    * a pass-through key ([[WindowKey]]) and puts it in front of its
    * per-document `groupBy`, which makes that aggregate a windowed one
    * (the window column carries the watermark, so append mode emits
    * each group once its window closes and drops its state).
    * `beforeWindow` runs on the watermarked stream first: a stateful
    * dedup there must see `event_time` as the only event-time column. */
  private def windowed(docs: DataFrame,
      beforeWindow: DataFrame => DataFrame = identity): DataFrame =
    beforeWindow(docs.withWatermark("event_time", "10 minutes"))
      .withColumn("window", window(col("event_time"), "10 minutes"))

  /** The pass-through key list of a [[windowed]] stream. */
  private val WindowKey = Seq("window")

  /** Tumbling-window counts with a watermark — the streaming twin of
    * q25. Late data beyond 30 minutes is dropped (watermark state GC
    * keeps the state store bounded — the 100 TB-stream essential). */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "30 minutes")
      .groupBy(window(col("event_time"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup: drops re-deliveries of the same event id
    * arriving within the watermark horizon — state is GC'd as the
    * watermark advances, so the dedup store stays bounded (the
    * unbounded `dropDuplicates` variant would grow forever on a real
    * stream). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap-based sessionization as a stream — `session_window` merges
    * events within `gap` of each other per user (the streaming twin of
    * the batch q26 lag→cumsum pattern; watermark bounds state). */
  def sessionizedEvents(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("event_time", "30 minutes")
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  final case class AsofEvent(key: Long, us: Long, isRight: Boolean,
    eventId: Long, payload: Long)
  final case class AsofMatch(key: Long, eventId: Long, us: Long,
    asofPayload: Option[Long], asofUs: Option[Long])
  final case class AsofState(lastPayload: Long, lastUs: Long)

  /** Streaming as-of join: left events matched to the most recent
    * right-side event at-or-before them within the same key — the
    * streaming twin of [[graft.operators.AsOfJoin]], with the carried
    * "latest right" living in the state store across micro-batches.
    *
    * Within a micro-batch, events are folded in event-time order
    * (ties: right before left, then eventId). Correct when per-key
    * arrival respects micro-batch boundaries (a right event arriving a
    * batch AFTER a left event it precedes in event time will not
    * retro-match; [[asofStreamOutOfOrder]] is the watermark-deferred
    * variant that handles full out-of-order arrival). */
  def asofStream(ds: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          var st = state.getOption
          val out = rows.toSeq
            .sortBy(e => (e.us, e.isRight match { case true => 0; case false => 1 }, e.eventId))
            .flatMap { e =>
              if (e.isRight) { st = Some(AsofState(e.payload, e.us)); None }
              else Some(AsofMatch(key, e.eventId, e.us,
                st.map(_.lastPayload), st.map(_.lastUs)))
            }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming corpus quality gate — the row-local stage of
    * [[graft.ext.CorpusPipeline.clean]] applied to a document STREAM
    * (curation on ingest): token/quality filters are stateless Column
    * expressions, so the same gate runs unchanged over a file/Kafka
    * stream with no watermark or state store. (Dedup stages need keyed
    * state — batch compaction or `dropDuplicatesWithinWatermark` on the
    * content hash cover those; the gate is where most volume dies
    * first, which is exactly what you want at ingest.) */
  def qualityGateStream(
      docs: DataFrame,
      textCol: String,
      minTokens: Long = 5L,
      maxTokens: Long = 1000L,
      minQuality: Double = 0.3): DataFrame = {
    import graft.functions.TextFunctions.{qualityScore, tokenCount}
    docs
      .withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("quality") >= minQuality)
  }

  /** Streaming incremental dedup — the ingest twin of
    * [[graft.ext.Dedup.dedupAgainstCorpus]] (q69's batch shape): each
    * micro-batch drops rows whose content digest exists in the static
    * known-corpus hash table (stream-static anti join — the static side
    * is re-broadcast per batch, so a corpus refresh is picked up on the
    * next trigger), then self-dedups within the watermark horizon via
    * `dropDuplicatesWithinWatermark` on the digest, which bounds state
    * by the horizon instead of growing with the stream (the classic
    * unbounded-dedup-state failure at corpus scale).
    *
    * `docs` must already carry a watermark. */
  def incrementalDedupStream(
      docs: DataFrame, textCol: String, knownHashes: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.contentHash
    docs
      .withColumn("__gch", contentHash(col(textCol)))
      .join(knownHashes.select(col("content_hash").as("__gch")), Seq("__gch"), "left_anti")
      .dropDuplicatesWithinWatermark("__gch")
      .drop("__gch")
  }

  final case class AsofEventT(key: Long, us: Long, isRight: Boolean,
    eventId: Long, payload: Long, eventTime: java.sql.Timestamp)
  final case class AsofOooState(
    rights: List[(Long, Long, Long)], // (us, eventId, payload), unsorted
    lefts: List[(Long, Long)])        // (us, eventId) pending emission

  /** Out-of-order-correct streaming as-of join: left events are
    * BUFFERED in keyed state and only emitted once the watermark passes
    * their event time, so a right event arriving micro-batches later
    * (but earlier in event time) still retro-matches — the
    * watermark-deferred emission [[asofStream]]'s Scaladoc documents as
    * its gap.
    *
    * Requires a watermark on `eventTime` upstream (event-time timeouts
    * need one). State is bounded by the watermark horizon: emitted
    * lefts leave the buffer, and of the rights at-or-below the
    * watermark only the latest is kept (the only one a future left can
    * still match — watermark guarantees no left older than it arrives).
    * An event-time timeout re-fires the group when the watermark
    * advances past its oldest pending left even if no new data for the
    * key arrives. */
  def asofStreamOutOfOrder(ds: Dataset[AsofEventT]): Dataset[AsofMatch] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[AsofEventT], state: GroupState[AsofOooState]) =>
          val st0 = state.getOption.getOrElse(AsofOooState(Nil, Nil))
          var rights = st0.rights
          var lefts = st0.lefts
          rows.foreach { e =>
            if (e.isRight) rights = (e.us, e.eventId, e.payload) :: rights
            else lefts = (e.us, e.eventId) :: lefts
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val rightsSorted = rights.sortBy(r => (r._1, r._2))
          // strictly below: an event AT the watermark can still arrive
          // (timeouts fire only once the watermark strictly exceeds a
          // timestamp), so a right at exactly wm must still retro-match
          val (emit, pending) = lefts.partition(_._1 < wmUs)
          val out = emit.sorted.map { case (us, id) =>
            val m = rightsSorted.takeWhile(_._1 <= us).lastOption
            AsofMatch(key, id, us, m.map(_._3), m.map(_._1))
          }
          // GC: the latest right at-or-below the watermark still carries
          // forward; everything older is unreachable for future lefts
          val (below, above) = rightsSorted.partition(_._1 <= wmUs)
          val pruned = below.lastOption.toList ::: above
          if (pending.isEmpty && pruned.isEmpty) state.remove()
          else {
            state.update(AsofOooState(pruned, pending))
            // wake when the watermark passes the oldest pending left —
            // or, for a quiet key holding only rights, when it passes
            // the oldest above-watermark right, so the buffer keeps
            // compacting toward the single carried right
            val wakeUs = pending.map(_._1).minOption
              .orElse(above.map(_._1).minOption)
            wakeUs.map(_ / 1000L).foreach(ms =>
              state.setTimeoutTimestamp(math.max(ms + 1, state.getCurrentWatermarkMs() + 1)))
          }
          out.iterator
      }
  }

  final case class ConvInput(group: String, rowIndex: Long, prompt: String)
  final case class ConvOutput(group: String, rowIndex: Long, turnNumber: Long,
    historyChars: Long, response: String)
  /** `maxRow` is the per-group arrival watermark: the highest
    * `rowIndex` folded so far (`Long.MinValue` for a fresh group).
    * The fold THROWS on an arrival at or below it — a producer
    * replaying an already-folded turn (easy after a producer restart)
    * would otherwise silently re-enrich it, append a duplicate turn
    * to the history, and shift every later turn number, a corruption
    * the batch twin detects and replays verbatim instead. For a
    * checkpoint-resumed stream the watermark starts at the cursor
    * (the checkpointed turns' max order value), so replays of
    * completed turns refuse too. */
  final case class ConvState(turns: Long, userChars: Long,
    history: List[(String, String)], maxRow: Long = Long.MinValue)

  /** T7: the conversation fold as a stateful stream — same semantics as
    * EnrichRunner.runConversations, but state persists across
    * micro-batches in the state store (checkpointable, resumable: the
    * streaming answer to the reference's pause/resume, main.py:631-638).
    * Rows within a micro-batch are folded in rowIndex order. */
  /** The shared per-group fold body of [[conversationStream]] and
    * [[conversationStreamResumed]]: fold arriving turns (rowIndex
    * order within the batch) through the threaded history, starting
    * from stored state — or, for a group never seen, from
    * `systemPrompt` alone. */
  private def convFold(enricher: Enricher, config: AiConfig,
      systemPrompt: Option[String])
      : (String, Iterator[ConvInput], GroupState[ConvState]) => Iterator[ConvOutput] =
    (key, rows, state) => {
      val init = state.getOption.getOrElse(
        ConvState(0L, 0L, systemPrompt.map("system" -> _).toList))
      var st = init
      val out = rows.toSeq.sortBy(_.rowIndex).map { r =>
        require(r.rowIndex > st.maxRow,
          s"conversation arrival rowIndex=${r.rowIndex} of group $key is at " +
            s"or below the folded watermark ${st.maxRow} — a replayed or " +
            "out-of-order turn would corrupt the threaded history; refusing")
        val messages = st.history.map { case (role, c) => Message(role, c) } :+
          Message("user", r.prompt)
        val resp = enricher.enrich(messages, config)
        val priorChars = st.userChars
        st = ConvState(st.turns + 1, st.userChars + r.prompt.length,
          st.history ::: List("user" -> r.prompt, "assistant" -> resp),
          r.rowIndex)
        ConvOutput(key, r.rowIndex, st.turns, priorChars, resp)
      }
      state.update(st)
      out.iterator
    }

  def conversationStream(
      ds: Dataset[ConvInput],
      enricher: Enricher,
      config: AiConfig,
      systemPrompt: Option[String] = None): Dataset[ConvOutput] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        convFold(enricher, config, systemPrompt))
  }

  /** [[conversationStream]] RESUMED from a
    * [[graft.enrich.ConversationCheckpoint]] generation — the
    * streaming face of the mid-group pause (q201's batch discipline):
    * every group's state is REBUILT from the loaded checkpoint
    * (history = checkpointed prompts × responses in turn order, turn
    * and char counters refolded) and handed to the stateful fold as
    * flatMapGroupsWithState INITIAL STATE, so the first arriving
    * post-cursor turn of each group sees exactly the message history
    * the uninterrupted stream would have held in the state store.
    *
    * Verification is EAGER — refuse at stream START, loudly: a stream
    * cannot retract emitted rows, so the batch gate's zero-rows
    * verdict becomes a throw before any micro-batch runs (same
    * certificate join: untampered pair XOR + complete 1..k prefix per
    * group). The batch gate's third check (input alignment) is the
    * arrival CONTRACT here instead: arrivals are the post-cursor
    * turns in per-group order — the same append-only ordering
    * [[conversationStream]] already requires across micro-batches.
    *
    * `checkpointResults`/`checkpointCursor` are the conv_ckpt parts;
    * `groupCol` casts to the stream's string group key. `orderCol`
    * names the checkpoint column holding the same per-group ordering
    * the stream's `rowIndex` continues — each group's arrival
    * watermark starts at its checkpointed max, so a producer
    * replaying a COMPLETED turn refuses (throws) instead of silently
    * re-enriching it into a duplicate history entry. When `orderCol`
    * is None the contract is that `rowIndex` continues the 1-based
    * per-group turn numbering, and the watermark starts at the
    * cursor's turn count. */
  def conversationStreamResumed(
      ds: Dataset[ConvInput],
      checkpointResults: DataFrame,
      checkpointCursor: DataFrame,
      groupCol: String,
      promptCol: String,
      enricher: Enricher,
      config: AiConfig,
      systemPrompt: Option[String] = None,
      orderCol: Option[String] = None): Dataset[ConvOutput] = {
    import ds.sparkSession.implicits._
    val verified = checkpointCursor.join(
        graft.enrich.ConversationCheckpoint.certificate(
          checkpointResults, groupCol, promptCol),
        Seq("ck_n", "ck_groups", "ck_gaps", "ck_xor_pair"))
      .filter(col("ck_gaps") === 0L).count() == 1L
    require(verified, "conversation checkpoint failed certificate verification " +
      "— refusing to serve a tampered or truncated history")
    val sys = systemPrompt
    val init = checkpointResults
      .select(col(groupCol).cast("string"), col(promptCol),
        col("turn_number"), col("response"),
        orderCol.map(c => col(c).cast("long")).getOrElse(col("turn_number"))
          .as("__ord"))
      .as[(String, String, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        val turns = it.toSeq.sortBy(_._3)
        val hist = sys.map("system" -> _).toList :::
          turns.flatMap(t =>
            List("user" -> t._2, "assistant" -> Option(t._4).getOrElse(""))).toList
        g -> ConvState(turns.size.toLong, turns.map(_._2.length.toLong).sum,
          hist, turns.map(_._5).foldLeft(Long.MinValue)(math.max))
      }
      .groupByKey(_._1).mapValues(_._2)
    ds.groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout, init)(
        convFold(enricher, config, sys))
  }

  /** Watermarked stream-stream interval join (click attribution):
    * every impression matched to the clicks of the same user within 30
    * minutes after it — Spark's symmetric-hash stream-stream join, with
    * BOTH sides watermarked and the time-bound condition letting the
    * state store evict rows once the interval can no longer match.
    * Inner join ⇒ output equals the batch join of the same data
    * (spec-checked); state per side is bounded by watermark + interval.
    *
    * Expects `imps(imp_id, user_id, imp_ts)` and
    * `clicks(click_id, user_id, click_ts)` with timestamp columns. */
  def attributionJoin(imps: DataFrame, clicks: DataFrame,
      delay: String = "10 minutes"): DataFrame = {
    val i = imps.withWatermark("imp_ts", delay)
    val c = clicks.withColumnRenamed("user_id", "click_user")
      .withWatermark("click_ts", delay)
    i.join(c,
      expr("""user_id = click_user AND
              click_ts >= imp_ts AND
              click_ts <= imp_ts + INTERVAL 30 MINUTES"""))
      .select(col("imp_id"), col("user_id"), col("imp_ts"),
        col("click_id"), col("click_ts"))
  }

  final case class AnomEvent(key: Long, us: Long, eventId: Long, cents: Long)
  final case class AnomScore(key: Long, eventId: Long, us: Long,
    nPrev: Long, z: Option[Double])
  final case class AnomState(ring: Seq[Long])

  /** Streaming twin of [[graft.operators.AnomalyDetect.slidingZScore]]:
    * each key's trailing `lookback` values ride in the state store as
    * exact integer cents (bounded state: `lookback` longs per key), and
    * every arriving event is z-scored against them with the SAME
    * arithmetic as the batch window — exact integer moments, one
    * correctly-rounded conversion to double each (BigInt sums, so no
    * overflow or double-rounding at any DECIMAL(12,2) magnitude) — so
    * batch and stream agree bit-for-bit (spec-checked). Within a
    * micro-batch, events fold in (us, eventId) order; per-key arrival
    * across batches must respect event order (the same contract as
    * [[asofStream]]). */
  def anomalyStream(
      ds: Dataset[AnomEvent], lookback: Int = 8, minPrev: Int = 4): Dataset[AnomScore] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[AnomEvent], state: GroupState[AnomState]) =>
          var ring = state.getOption.map(_.ring).getOrElse(Seq.empty[Long])
          val out = rows.toSeq.sortBy(e => (e.us, e.eventId)).map { e =>
            val n = ring.size
            val z = if (n >= minPrev) {
              // exact BigInt moments (Long c*c would overflow for cents
              // beyond ~3e9, and a sum past 2^53 would round twice),
              // then ONE correctly-rounded decimal->double conversion —
              // BigDecimal.doubleValue, the same single rounding the
              // batch frame's decimal sums get from their double cast
              val sumC = ring.foldLeft(BigInt(0))(_ + _)
              val sumSq = ring.foldLeft(BigInt(0))((a, c) => a + BigInt(c) * BigInt(c))
              val s = new java.math.BigDecimal(sumC.bigInteger).movePointLeft(2).doubleValue()
              val ss = new java.math.BigDecimal(sumSq.bigInteger).movePointLeft(4).doubleValue()
              val nD = n.toDouble
              val mean = s / nD
              val v = (ss - s * s / nD) / (nD - 1.0)
              if (v > 0.0) {
                val xd = e.cents.toDouble / 100.0
                Some(BigDecimal((xd - mean) / math.sqrt(v))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              } else None
            } else None
            ring = (ring :+ e.cents).takeRight(lookback)
            AnomScore(key, e.eventId, e.us, n, z)
          }
          state.update(AnomState(ring))
          out.iterator
      }
  }

  /** Streaming twin of q141's grouped sliding-window distinct sketch:
    * per (event_type, 30-minute window sliding by 10) HLL register
    * contributions — (win_start, event_type, bucket, r) — via a plain
    * windowed MAX aggregation over the row-local
    * [[graft.ext.Hll.bucketRho]] contribution. State per group is ≤
    * 256 bucket maxima; the watermark closes windows (append mode) and
    * GCs their state. Registers are SPARSE here (absent buckets are
    * implicit r = 0 — a stream can't densify what it hasn't seen);
    * max-merging them per bucket with any other register set, or
    * feeding n_zero = 256 − hit-buckets into the estimate, reproduces
    * the batch q141 numbers exactly — spec-pinned against the batch
    * register build on the same events. */
  def slidingHllRegisters(events: DataFrame): DataFrame = {
    events
      .withWatermark("event_time", "30 minutes")
      .select(window(col("event_time"), "30 minutes", "10 minutes").as("win"),
        col("event_type"), graft.ext.Hll.bucketRho(col("user_id")).as("br"))
      .groupBy(col("win"), col("event_type"), col("br.bucket").as("bucket"))
      .agg(max(col("br.rho")).as("r"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("bucket"), col("r"))
  }

  /** Streaming twin of q146's span-level decontamination: FRESH
    * documents stream in (the crawl-ingest shape), their winnowing
    * fingerprints are computed ROW-locally
    * ([[graft.ext.Winnowing.fingerprints]] — no shuffle, no state for
    * selection), probe the STATIC eval-slice fingerprint set (the q120
    * stream-static discipline), and each doc's contamination stats —
    * q146's own report, [[graft.ext.Winnowing.contamination]], with
    * the window as its pass-through key — emit once its event-time
    * window closes (bounded per-(window, doc) state, watermark-GC'd).
    * Same numbers as the batch report on the same documents;
    * spec-pinned. */
  def decontamStream(docs: DataFrame, evalFps: DataFrame): DataFrame =
    graft.ext.Winnowing.contamination(
      graft.ext.Winnowing.fingerprints(windowed(docs), "doc_id", "text", keys = WindowKey),
      // distinct the static probe side, as q146 dedups its eval set
      evalFps.select(col("fp")).distinct(), WindowKey)

  /** Streaming directed-containment probe — the stream-static twin of
    * [[graft.ext.Dedup.containmentAgainstCorpus]] (q155's batch shape).
    * Fresh documents stream in; shingle sets are computed ROW-locally,
    * explode to 8-byte hashes and equi-join the STATIC df-capped
    * posting index (re-planned per micro-batch, so an index refresh is
    * picked up on the next trigger). Candidates dedup per event-time
    * window — the windowed aggregate standing in for the batch
    * `distinct`, bounded per-(window, doc, corpus-doc) state — then
    * join the static full sets and take the batch operator's own
    * verdict, [[graft.ext.Dedup.containmentVerdict]] (two-pointer
    * intersection, all-integer threshold, both ppm ratios). Both sets
    * are ascending and distinct: the stream side is `hashedShingles`
    * output through `first`, `set_c` is
    * [[graft.ext.Dedup.hashedShingleSets]]. Emitted rows are
    * bit-identical to the batch probe over the same documents
    * (spec-pinned).
    *
    * `docs` must carry (doc_id, text, event_time); `postings`/`sets`
    * come from [[graft.ext.Dedup.containmentCorpusIndex]]. */
  def containmentProbeStream(
      docs: DataFrame, postings: DataFrame, sets: DataFrame,
      n: Int = 8, thresholdBp: Int = 9000, minShingles: Int = 20): DataFrame = {
    val shaped = windowed(docs)
      .withColumn("sh_set", graft.functions.VectorFunctions
        .hashedShingles(col("text"), n, graft.ext.Dedup.ShingleHashMod))
      .filter(size(col("sh_set")) >= minShingles)
    // candidate dedup via windowed agg (the streaming `distinct`);
    // first(sh_set) is well-defined — every exploded row of one doc
    // carries the same set — and saves a stream-side re-join
    val cand = shaped
      .select(col("doc_id"), col("window"), col("sh_set"),
        explode(col("sh_set")).as("sh"))
      .join(postings, Seq("sh"))
      .groupBy(col("window"), col("doc_id"), col("corpus_id"))
      .agg(first(col("sh_set")).as("sh_set"))
    graft.ext.Dedup.containmentVerdict(cand.join(sets, Seq("corpus_id")), thresholdBp)
  }

  /** Streaming incremental block dedup: q159's batch operator
    * [[graft.ext.Dedup.blockDedupAgainstCorpus]] applied to a
    * [[windowed]] stream, with the window as its pass-through key.
    * Blocks split and mark within-doc repeats ROW-locally, probe the
    * STATIC known-block hash set (stream-static left join, re-planned
    * per micro-batch so an index refresh is picked up on the next
    * trigger), and each doc's cleaned reassembly emits once its
    * event-time window closes. A document's verdict depends only on
    * that document and the static index, so the streamed rows equal
    * the batch probe's on the same documents (spec-pinned). `docs`
    * must carry (doc_id, text, event_time). */
  def blockDedupStream(docs: DataFrame, knownHashes: DataFrame,
      blockWords: Int = 20): DataFrame =
    graft.ext.Dedup.blockDedupAgainstCorpus(windowed(docs), "doc_id", "text",
        knownHashes, blockWords, WindowKey)
      .select(col("doc_id"), col("n_blocks"), col("n_kept"), col("n_known"),
        col("n_removed"), col("clean_text"))

  /** Streaming perceptual image dedup — the ingest twin of q161's
    * batch buckets (the [[blockDedupStream]] q159 form for images):
    * fresh images stream in, each is ImageIO-decoded and reduced to
    * its 64-bit dHash ROW-locally
    * ([[graft.ext.ImageCodec.imageDHash]] — pixels never leave the
    * row), then probed against the STATIC known-hash corpus (dhash →
    * bucket keeper, the q161 grouping collapsed to its first doc_id)
    * via a stream-static left join, re-planned per micro-batch so an
    * index refresh lands on the next trigger. Per image: is_dup (its
    * hash already has a corpus bucket) and keep_id (that bucket's
    * keeper, or the image itself when the hash is new). Stateless —
    * the verdict depends only on the row and the static index, so
    * rows emit immediately and match the batch probe bit-identically
    * (spec-pinned); no watermark, no window state.
    * `imgs` must carry (doc_id, payload binary); extra columns pass
    * through ahead of the appended verdict columns. */
  def imageDedupStream(imgs: DataFrame, knownHashes: DataFrame): DataFrame =
    graft.ext.ImageCodec.imageDHash(imgs, "payload")
      .join(knownHashes.select(col("dhash"), col("keep_id").as("corpus_keep")),
        Seq("dhash"), "left")
      .withColumn("is_dup", col("corpus_keep").isNotNull.cast("int"))
      .withColumn("keep_id", coalesce(col("corpus_keep"), col("doc_id")))
      .drop("corpus_keep", "payload")

  /** Streaming exact-substring probe: q179's batch operator
    * [[graft.ext.DupNgrams.coverageAgainstDict]] applied to a
    * [[windowed]] stream, with the window as its pass-through key.
    * Token n-grams with positions are computed ROW-locally, each gram
    * probes the STATIC duplicated-gram dictionary (stream-static semi
    * join, re-planned per micro-batch so a dictionary refresh lands on
    * the next trigger), and the doc's coverage profile emits when its
    * event-time window closes. Docs without a hit, or shorter than n,
    * emit a zero profile, as in batch (spec-pinned). State is bounded: per
    * (window, doc) one position list, watermark-GC'd. `docs` must
    * carry (doc_id, text, event_time); `dict` is the loaded
    * [[graft.ext.DupNgrams.dupGramDict]] artifact. */
  def dupGramProbeStream(docs: DataFrame, dict: DataFrame,
      n: Int = graft.ext.DupNgrams.DefaultN): DataFrame =
    graft.ext.DupNgrams.coverageAgainstDict(windowed(docs), "doc_id", "text",
        dict, n, WindowKey)
      // window.start stays in the output: a doc_id redelivered in a
      // later window emits a second profile, and the consumer needs
      // the window to tell the emissions apart
      .select(col("window.start").as("window_start"), col("id"), col("n_tokens"),
        col("dup_grams"), col("covered_tokens"), col("coverage_ppm"))

  /** Streaming frozen-tokenizer application — the live twin of q185:
    * arriving documents tokenize against the PERSISTED BPE vocabulary
    * entirely ROW-locally — the loaded merge rules AND the known-word
    * vocabulary ride the plan as literals (rules through
    * [[graft.ext.BpeTrain.symExpr]] inside an array lambda, the vocab
    * as a typedLit for the OOV membership test), so each document's
    * words rewrite in place with no explode, no join, no state, no
    * watermark — verdicts emit immediately at any rate (the
    * [[pqEncodeStream]] serving shape taken one step further: even
    * the dictionary is a literal). Per doc: word count, OOV words,
    * BPE tokens, chars, fixed-point compression — the q185 columns,
    * bit-identical to the batch serve over the same docs
    * (spec-pinned). `docs` must carry (doc_id, text); `vocab` is the
    * loaded training dictionary's word list (vocabulary-sized). */
  def bpeApplyStream(docs: DataFrame,
      rules: Seq[(String, String, String)], vocab: Seq[String]): DataFrame = {
    val vocabLit = typedLit(vocab)
    docs
      .withColumn("__w", filter(
        graft.functions.TextFunctions.tokens(lower(col("text"))),
        w => w.rlike("^[a-z0-9]+$")))
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("n_words"),
        size(filter(col("__w"), w => !array_contains(vocabLit, w)))
          .cast("long").as("n_oov_words"),
        aggregate(
          transform(col("__w"), w => graft.ext.BpeTrain.symExpr(w, rules)),
          lit(0L), (acc, s) => acc + size(split(s, " ")) - 1)
          .as("n_bpe_tokens"),
        aggregate(col("__w"), lit(0L), (acc, w) => acc + length(w))
          .as("n_chars"))
      .withColumn("cpt_ppm",
        expr("CASE WHEN n_bpe_tokens > 0 THEN n_chars * 1000000L DIV n_bpe_tokens END"))
  }

  /** Streaming BM25 query serving — the live twin of q180's
    * persisted-index serve: free-text QUERIES stream in (qid, qtext,
    * event_time), tokenize and distinct ROW-locally
    * (`array_distinct` — no dedup state), join the STATIC loaded
    * index parts (vocab-sized idf table, corpus tf, doc lengths —
    * re-planned per micro-batch so an index refresh lands on the next
    * trigger), accumulate per-(window, qid, doc) scores with the ONE
    * shared contribution formula ([[graft.ext.Bm25.contribExpr]] —
    * corpus constants ride as literals from the loaded globals), and
    * emit each query's top-`k` through the batch
    * [[graft.ext.Bm25.rankTopK]] with the window as its pass-through
    * key when its window closes. TWO chained stateful
    * aggregations on one watermark (the [[mixMonitorStream]]
    * multi-stateful-op shape). State bound: per (window, qid) the
    * candidate docs sharing ≥1 query term — at web scale the query
    * terms would be df-capped before the tf join (the q19 rare-
    * shingle discipline); the corpus side itself never re-tokenizes.
    * Value-identical to batch [[graft.ext.Bm25.Index.scores]] +
    * `rankTopK` over the same (qid, term) sets (spec-pinned). */
  def bm25ServeStream(queries: DataFrame, ix: graft.ext.Bm25.Index,
      k: Int = 10): DataFrame = {
    val terms = windowed(queries)
      .select(col("qid"), col("window"),
        explode(array_distinct(graft.functions.TextFunctions.tokens(
          lower(col("qtext"))))).as("term"))
      .filter(col("term") =!= "")
    val perDoc = terms
      .join(ix.dfreq.select(col("term"), col("idf_bits")), Seq("term"))
      .join(ix.tf, Seq("term"))
      .join(ix.dl, Seq("id"))
      .withColumn("c", graft.ext.Bm25.contribExpr(ix.n, ix.t))
      .groupBy(col("window"), col("qid"), col("id"))
      .agg(sum(col("c")).as("score_fp"))
    withWindowStart(graft.ext.Bm25.rankTopK(perDoc, k, WindowKey))
  }

  /** A serving twin's ranked rows with `window` replaced by its start:
    * it stays in the output because the same qid re-queried in a later
    * window emits a SECOND ranking, and without it the consumer cannot
    * tell which one is current. */
  private def withWindowStart(ranked: DataFrame): DataFrame =
    ranked.select(col("window.start").as("window_start") +:
      ranked.columns.toSeq.filter(_ != "window").map(col): _*)

  /** Streaming frozen-codebook PQ encode — the ingest twin of q166:
    * arriving vectors are PQ-encoded ROW-locally against LITERAL
    * codebooks ([[graft.ext.ProductQuantize.pqEncodeExpr]] — the
    * native k-means argmin per subspace, M·K·SubDim integers embedded
    * in the plan). Books are trained OFFLINE and collected once
    * ([[graft.ext.ProductQuantize.collectBooks]]) — the
    * [[ccnetBucketStream]] serving split: constant-size trained
    * artifacts ride as literals, the stream does zero joins, zero
    * shuffles, zero state, so rows emit immediately at any rate.
    * Value-identical to the batch [[graft.ext.ProductQuantize.encodeAgainst]]
    * (same argmin, same ties; spec-pinned).
    * `vecs` must carry (vec_id, codes array<long> of 64). */
  def pqEncodeStream(vecs: DataFrame,
      books: IndexedSeq[Seq[(Long, Seq[Long])]]): DataFrame =
    vecs
      .withColumn("enc", graft.ext.ProductQuantize.pqEncodeExpr(books, col("codes")))
      .select(col("vec_id"), col("enc.pq0").as("pq0"), col("enc.pq1").as("pq1"),
        col("enc.pq2").as("pq2"), col("enc.pq3").as("pq3"),
        col("enc.recon_dist2").as("recon_dist2"))

  /** Streaming IVF-PQ vector search — the live serve twin of the q165
    * persisted-index probe: arriving query vectors prepare their WHOLE
    * probe row-locally ([[graft.ext.ProductQuantize.ivfPqLutExpr]] —
    * coarse top-nProbe selection, shifted residual, and the full M×K
    * LUT of exact integer sub-distances, computed in one primitive
    * pass against the LITERAL collected centroids and books; the
    * trained artifacts are a few KB and ride the plan), then the flat
    * LUT rows equi-join the STATIC compressed corpus — the loaded
    * `asg`/`enc` parts, pre-joined to (id, coarse, sub, cluster) — on
    * (coarse, sub, cluster), and each query's candidates fold like
    * [[bm25ServeStream]]'s: the batch search's ADC-sum + top-k tail
    * ([[graft.ext.ProductQuantize.adcLutTopK]]) with the window as its
    * pass-through key, emitted on window close. Two chained
    * stateful aggregations; self-matches excluded and ties broken by
    * id exactly as the batch search. At 100 TB the stream-static join
    * is the ADC scan itself — candidates shrink by nProbe/K before
    * any distance math, and only 8-byte codeword rows of probed cells
    * move. Emits (window_start, qid, rank, vec_id, adc_dist2); parity
    * spec pins stream ≡ batch [[graft.ext.ProductQuantize.ivfPqTopKWith]].
    * `queries` must carry (qid, codes array<long> of 64, event_time). */
  def ivfPqServeStream(queries: DataFrame,
      index: (DataFrame, DataFrame, DataFrame, DataFrame),
      nProbe: Int, topK: Int): DataFrame = {
    val pq = graft.ext.ProductQuantize
    val (coarse, asg, booksR, encR) = index
    val coarseLit = pq.collectCoarse(coarse)
    val booksLit = pq.collectBookArrays(booksR)
    val lutRows = windowed(queries)
      .select(col("qid"), col("window"),
        explode(pq.ivfPqLutExpr(coarseLit, booksLit, nProbe, col("codes"))).as("l"))
      .select(col("qid"), col("window"), col("l.pc").as("coarse"),
        col("l.sub").cast("int").as("sub"), col("l.cluster").as("cluster"),
        col("l.lutd2").as("lutd2"))
    withWindowStart(pq.adcLutTopK(lutRows, encR, asg, topK, WindowKey))
  }

  final case class CusumEventT(userId: Long, us: Long, eventId: Long,
    cents: Long, target: Long)
  final case class CusumAlarm(userId: Long, eventId: Long, sAtAlarm: Long,
    alarmNo: Long)
  final case class CusumState(s: Long, nal: Long)

  /** Streaming CUSUM alarms — the incremental twin of
    * [[graft.operators.AnomalyDetect.cusumWithTargets]] (q160's
    * externally-trained form): per-key (S, alarm-count) state in
    * `flatMapGroupsWithState`, one alarm row EMITTED THE MOMENT the
    * statistic crosses the threshold (the monitoring deployment — the
    * batch report only says how many fired and when the first did).
    * Targets are trained OFFLINE and ride on the event rows (join the
    * static per-key target table before grouping — a per-key table
    * can be corpus-sized, so it must arrive as a join, not a closure).
    * Constant per-key state (two longs), unbounded streams welcome —
    * exactly the bound the batch operator's per-key collect cannot
    * give. Within each micro-batch rows process in (us, eventId)
    * order; cross-batch order is the caller's delivery contract (the
    * [[conversationStream]] discipline). Alarm rows match the batch
    * fold's count and first-alarm id exactly (spec-pinned). */
  def cusumAlarmStream(ds: Dataset[CusumEventT]): Dataset[CusumAlarm] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[CusumEventT], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumAlarm]
          for (r <- rows.toSeq.sortBy(e => (e.us, e.eventId))) {
            val slack = r.target / 20
            val thresh = r.target * 2
            val ns = math.max(0L, st.s + r.cents - r.target - slack)
            if (ns > thresh) {
              st = CusumState(0L, st.nal + 1)
              out += CusumAlarm(key, r.eventId, ns, st.nal)
            } else st = CusumState(ns, st.nal)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming DSIR importance filter — weights trained OFFLINE
    * ([[graft.ext.Dsir.liftArray]], a [[graft.ext.Dsir.Buckets]]-entry
    * literal riding in the plan) applied ROW-locally to a document
    * stream: score = Σ_tokens (lift[bucket(token)] − 10⁶), keep iff the
    * replayable avalanched-hash point falls under the score's rate
    * ([[graft.ext.Mixing.keyBp]] < [[graft.ext.Dsir.rateBp]]). A pure
    * projection + filter — STATELESS: no watermark, no state store,
    * survives any stream volume, exactly the "train the selector
    * offline, run it on the crawl" deployment DSIR describes. Integer
    * sums commute, so the row-local score is bit-identical to the
    * batch join-based scorer on the same document (spec-pinned);
    * empty documents are dropped to match the batch exclusion. */
  def importanceFilterStream(
      docs: DataFrame, liftPpm: Array[Long],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(liftPpm.length == graft.ext.Dsir.Buckets,
      s"liftPpm must have ${graft.ext.Dsir.Buckets} entries, got ${liftPpm.length}")
    val toks = graft.functions.TextFunctions.tokens(lower(col(textCol)))
    val score = aggregate(
      transform(toks, t => element_at(typedLit(liftPpm.toSeq),
        (pmod(graft.functions.GraftFunctions.polyhash(t),
          lit(graft.ext.Dsir.Buckets.toLong)) + lit(1L)).cast("int"))
        - lit(graft.ext.Dsir.ScalePpm)),
      lit(0L), (acc, x) => acc + x)
    docs.filter(trim(col(textCol)) =!= "")
      .withColumn("score", score)
      .withColumn("rate_bp", graft.ext.Dsir.rateBp(col("score")))
      .filter(graft.ext.Mixing.keyBp(col(idCol)) < col("rate_bp"))
  }

  /** Streaming CCNet tercile assignment — the q144/q154 DSIR split
    * applied to q158: the bigram LM
    * ([[graft.ext.SurprisalScore.bigramModel]]) and per-language
    * tercile thresholds ([[graft.ext.SurprisalScore.ccnetThresholds]])
    * are trained OFFLINE and arrive as STATIC tables; each streaming
    * document is scored by the batch scorer's own fold
    * ([[scoreStream]] over [[graft.ext.SurprisalScore.scoreAgainst]]:
    * bigrams explode row-locally, join the model — a vocabulary-sized
    * table rides a join, never a closure — and fold per doc and
    * window) and bucketed ROW-locally against the broadcast
    * thresholds via the batch verdict expression. Bigrams
    * the model never saw carry no evidence (they drop from the inner
    * join — a case the self-trained batch query cannot produce, so
    * parity over training-corpus docs is exact, spec-pinned).
    * `docs` must carry (doc_id, text, lang, event_time). */
  def ccnetBucketStream(docs: DataFrame, model: DataFrame,
      thresholds: DataFrame): DataFrame =
    scoreStream(windowed(docs), model, "lang")
      .join(broadcast(thresholds), Seq("lang"))
      .select(col("id").as("doc_id"), col("lang"), col("mb"),
        graft.ext.SurprisalScore.bucketExpr.as("bucket"))

  /** The windowed per-doc surprisal score every LM-scoring twin shares:
    * [[graft.ext.SurprisalScore.scoreAgainst]] over a [[windowed]]
    * stream, with the event-time window and the `tags` columns as its
    * pass-through keys, plus the millibit rate `mb`. Emits (window,
    * tags..., id, n_bigrams, surprisal_bits, mb) when the window
    * closes. */
  private def scoreStream(windowedDocs: DataFrame, model: DataFrame,
      tags: String*): DataFrame =
    graft.ext.SurprisalScore.scoreAgainst(windowedDocs, "doc_id", "text",
        model, WindowKey ++ tags)
      .withColumn("mb", expr("surprisal_bits * 1000 DIV n_bigrams"))

  /** Streaming curriculum routing — the ingest twin of q192: an
    * arriving document is scored against the STATIC bigram LM, takes
    * its CCNet tercile from the broadcast frozen thresholds (the
    * [[ccnetBucketStream]] serving split, reused verbatim as the
    * upstream), and then routes itself ROW-locally: stage = tercile
    * index, one output row per epoch ≥ stage carrying the q192 shuffle
    * key ([[graft.ext.Mixing.shuffleKey]] — the SAME epoch-hashed key)
    * and its proportional shard. The loader appends the row to
    * (epoch, shard) and resolves within-shard order at read time by
    * the key — which is why `pos` is absent here: position depends on
    * the rest of the shard, the one thing a row-local serve cannot
    * know. Emits (window-finalized by the upstream agg): doc_id,
    * bucket, stage, epoch, skey, shard. `shards` defaults to the
    * engine-wide [[graft.ext.Mixing.ShuffleShards]] — the batch
    * schedule's count — so a deployment has to OPT OUT to fork the
    * stream's shard mapping from the batch schedule's. */
  def curriculumRouteStream(docs: DataFrame, model: DataFrame,
      thresholds: DataFrame,
      shards: Long = graft.ext.Mixing.ShuffleShards): DataFrame = {
    ccnetBucketStream(docs, model, thresholds)
      .withColumn("stage",
        when(col("bucket") === "head", 0).when(col("bucket") === "middle", 1)
          .otherwise(2))
      .withColumn("epoch",
        explode(array((0 until 3).map(lit): _*)))
      .filter(col("stage") <= col("epoch"))
      .withColumn("skey",
        graft.ext.Mixing.shuffleKey(col("epoch"), col("doc_id")))
      .withColumn("shard", graft.ext.Mixing.shardOf(col("skey"), shards))
      .select(col("doc_id"), col("bucket"), col("stage"),
        col("epoch"), col("skey"), col("shard"))
  }

  /** Streaming mid-epoch RESUME — q195's serve-side twin, completing
    * the loader story: preemption checkpoints arrive as a STREAM of
    * cursors (epoch, shard, ckpt_pos) — the shape a fleet of training
    * workers emits when it restarts — and each cursor stream-statically
    * joins the PERSISTED schedule restricted to CERTIFIED shards
    * ([[graft.ext.EpochResume.certificates]] against the loaded
    * manifest: count, key range, XOR checksums, dense key-ordered
    * positions), emitting the remainder of its shard (positions
    * strictly past the cursor). A cursor pointing at a corrupted shard
    * emits NOTHING — same refuse-don't-fabricate contract as batch.
    * Stateless: one stream-static inner join, verdicts emit
    * immediately; the certification fold runs on the static side.
    * `schedule`/`manifest` are the q191/q193 artifacts (e.g. loaded
    * from the [[graft.ext.ArtifactRegistry]]). */
  def epochResumeStream(cursors: DataFrame, schedule: DataFrame,
      manifest: DataFrame): DataFrame = {
    val certified = schedule.join(
      graft.ext.EpochResume.certificates(schedule, manifest)
        .select(col("epoch"), col("shard")),
      Seq("epoch", "shard"))
    cursors.select(col("epoch"), col("shard"), col("ckpt_pos"))
      .join(certified, Seq("epoch", "shard"))
      .filter(col("pos") > col("ckpt_pos"))
      .select(col("epoch"), col("shard"), col("ckpt_pos"), col("pos"),
        col("doc_id"), col("skey"))
  }

  /** Streaming cross-source overlap monitor — q170's ingest-side twin
    * (the q120 probe discipline lifted to the source-pair matrix): the
    * standing corpus arrives as its STATIC banded LSH index with the
    * source tag riding each banded row
    * ([[graft.ext.MinHashLsh.bandedIndexWith]] — ~200 B/doc, never
    * text), each arriving document signs and bands itself row-locally,
    * probes only its own buckets, and confirmed near-dup hits
    * (est_sim ≥ 1/2, same first-agreeing-band dedup as batch) fold
    * into a watermarked per-window source-pair matrix: (window_start,
    * source_a, source_b, n_pairs, sum_match16). This is the live
    * contamination dashboard a crawl operator watches — "the new dump
    * is re-crawling source X" shows up as a swelling off-diagonal cell
    * within minutes of ingest, not after the next batch job. ONE
    * stateful op (the windowed count); the probe join is stateless
    * stream-static. `docs` must carry (doc_id, source, text,
    * event_time); same-id echoes of corpus docs are dropped like
    * [[graft.ext.MinHashLsh.nearDupAgainstIndex]] does. */
  def sourceOverlapStream(docs: DataFrame, index: DataFrame): DataFrame = {
    import graft.ext.MinHashLsh
    val fb = MinHashLsh.bandedIndexWith(windowed(docs), "doc_id", "text",
      Seq("source", "window"))
    index.as("a").join(fb.as("b"),
        col("a.band") === col("b.band") && col("a.bslice") === col("b.bslice") &&
          col("a.id") =!= col("b.id") && MinHashLsh.firstMatchBandPred)
      .select(col("b.window").as("window"),
        least(col("a.source"), col("b.source")).as("source_a"),
        greatest(col("a.source"), col("b.source")).as("source_b"),
        MinHashLsh.sigMatches(col("a.sig"), col("b.sig")).as("m16"))
      .filter(col("m16") * 2 >= MinHashLsh.K)
      .groupBy(col("window"), col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("m16")).cast("long").as("sum_match16"))
      .select(col("window.start").as("window_start"),
        col("source_a"), col("source_b"), col("n_pairs"), col("sum_match16"))
  }

  /** Streaming mix-drift monitor — q175's live twin: the per-source
    * contribution dashboard of an ingest pipeline, maintained per
    * watermark window. Arrivals pass the exact-dedup gate
    * ([[incrementalDedupStream]]: content digest anti-joined against
    * the STATIC corpus digest set, then deduplicated within the
    * watermark for at-least-once redelivery),
    * score themselves against the STATIC bigram LM ([[scoreStream]],
    * the document's token count riding as a key), take the
    * calibrated-gate verdict from the STATIC calibration table, and
    * roll up per (window, source): unique scored arrivals, calibrated
    * keeps, and kept token mass — exactly the quantities q175
    * normalizes into sampling weights, so an operator watches source
    * mix shift WHILE a crawl lands instead of after the next release
    * build. Three stateful ops (stream dedup + two chained window
    * aggregations on one watermark); every reference artifact is
    * static and offline-trained. Documents the scorer cannot rank
    * (< 2 tokens, or no LM-known bigram) drop — no evidence, the
    * q175 convention; a (source, bucket) pair the reference corpus
    * never produced likewise drops (the [[calibrationStream]]
    * unseen-key case). `docs` must carry (doc_id, source, text,
    * event_time). */
  def mixMonitorStream(docs: DataFrame, knownHashes: DataFrame,
      model: DataFrame, calib: DataFrame): DataFrame = {
    val fresh = windowed(docs, incrementalDedupStream(_, "text", knownHashes))
      .withColumn("n_tokens",
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
    val perDoc = scoreStream(fresh, model, "source", "n_tokens")
      .withColumn("bkt", expr(s"mb DIV ${graft.ext.SurprisalScore.CalibW}"))
    perDoc.join(broadcast(calib), Seq("source", "bkt"))
      .withColumn("cal_keep", (col("src_pct_ppm") < 500000).cast("long"))
      .groupBy(col("window"), col("source"))
      .agg(count(lit(1)).as("n_unique_scored"),
        sum(col("cal_keep")).as("n_kept"),
        sum(col("cal_keep") * col("n_tokens")).as("tok_kept"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_unique_scored"), col("n_kept"), col("tok_kept"))
  }

  /** Streaming per-source score calibration — q171's deployment split
    * (the ccnet-stream discipline): BOTH offline artifacts arrive
    * static — the bigram LM `model` ([[graft.ext.SurprisalScore.bigramModel]],
    * vocabulary-sized) and the calibration table `calib`
    * ([[graft.ext.SurprisalScore.calibrationTable]], (sources ×
    * buckets)-bounded) — and each arriving document needs one windowed
    * per-doc aggregation (its surprisal fold, [[scoreStream]])
    * followed by a static join and row-local integer arithmetic. The
    * score is quantized to
    * [[graft.ext.SurprisalScore.CalibW]]-wide buckets precisely so the
    * serve-time lookup is an EXACT equi-join: a fresh document's raw mb
    * value need not have occurred offline, but its bucket key has.
    * A (source, bucket) pair the reference corpus never produced drops
    * (inner join — no evidence to rank against, the tfidf-stream
    * unseen-token case), so parity over training-corpus documents is
    * exact (spec-pinned). `docs` must carry (doc_id, source, text,
    * event_time). */
  def calibrationStream(docs: DataFrame, model: DataFrame,
      calib: DataFrame): DataFrame =
    scoreStream(windowed(docs), model, "source")
      .withColumn("bkt", expr(s"mb DIV ${graft.ext.SurprisalScore.CalibW}"))
      .join(broadcast(calib), Seq("source", "bkt"))
      .select(col("id").as("doc_id"), col("source"), col("mb"), col("bkt"),
        col("src_pct_ppm"), col("glob_pct_ppm"), col("gap_ppm"))

  /** Streaming TF-IDF keyword extraction — q163's deployment split
    * (the q158/q144 discipline): the rarity table
    * ([[graft.queries.TextQueries.tfidfRarity]] — (token, df, rarity),
    * vocabulary-sized) is trained OFFLINE and arrives static; each
    * streaming document computes its term frequencies INSIDE the row
    * (distinct-token counts over the bound token array — no streaming
    * tf agg, so the whole operator needs exactly ONE stateful
    * aggregation: the windowed per-doc top-k), joins the static rarity,
    * and emits its top-3 keywords when the window closes. Tokens the
    * reference corpus never saw carry no evidence (inner join — a case
    * the self-trained batch query cannot produce, so parity over
    * training-corpus docs is exact, spec-pinned). The per-doc top-k is
    * q163's own ranking tail ([[graft.queries.TextQueries.tfidfTop3]],
    * the bounded-state [[graft.functions.TopKFunctions.topK]]
    * aggregate) with the window as its pass-through key.
    * `docs` must carry (doc_id, text, event_time).
    *
    * ASSUMES each doc_id arrives at most once per watermark window:
    * because tf is computed row-locally, an at-least-once source that
    * redelivers a document inside one window would feed the top-k
    * duplicate (token, tf) rows and double the scores. Sources that
    * can redeliver must dedupe upstream
    * (`dropDuplicatesWithinWatermark("doc_id")`) — kept OUT of this
    * operator so the exactly-once path pays no second stateful op. */
  def tfidfKeywordStream(docs: DataFrame, rarity: DataFrame): DataFrame = {
    // per-row tf in ONE hashed pass (native token_counts — the
    // HOF alternative re-scans the token array per distinct token)
    val tf = windowed(docs)
      .select(col("doc_id"), col("window"),
        explode(graft.functions.GraftFunctions.tokenCounts(
          graft.functions.TextFunctions.tokens(col("text")))).as("p"))
      .select(col("doc_id"), col("window"),
        col("p.token").as("token"), col("p.tf").as("tf"))
    graft.queries.TextQueries.tfidfTop3(
      tf.join(rarity, Seq("token")).withColumn("score", col("tf") * col("rarity")),
      WindowKey)
  }

  /** Registry-pin ROTATION for a live serve — the deployment reason
    * the versioned registry exists, demonstrated on the NB classifier:
    * upgrade a serving stream from generation v1 to v2 (or roll back)
    * BETWEEN micro-batches, without restarting the query.
    *
    * A static frame embedded in a streaming plan is frozen at stream
    * start (Spark re-plans the join per micro-batch from the SAME
    * frame), so rotation needs the one mechanism that re-RESOLVES per
    * batch: `foreachBatch`. Each micro-batch reads the registry's
    * current pin ([[graft.ext.ArtifactRegistry.currentPin]] — a
    * KB-sized append-only log), lazily loads THAT generation's
    * immutable parts, scores the batch with the SAME batch classifier
    * the gated q174 serve uses ([[graft.ext.NbClassifier.score]] —
    * stream/batch parity by construction, not by reimplementation),
    * stamps every row with `served_version`, and hands the result to
    * `sink`. Falls back to the latest manifest-visible version when
    * nothing was ever pinned. Per-batch overhead: one pin-log read +
    * two lazy parquet opens — the generation's data is only scanned by
    * the join itself. Spec-pinned in StreamingSpec: batches before and
    * after a re-pin provably serve from DIFFERENT generations, each
    * bit-identical to its batch twin. */
  def nbServeStreamRotating(docs: DataFrame, root: String, kind: String)(
      sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rotatingServe(docs, root, kind) { (batch, v) =>
      val s = batch.sparkSession
      val reg = graft.ext.ArtifactRegistry
      graft.ext.NbClassifier.score(batch, "doc_id", "text",
        reg.read(s, root, kind, v, "weights"),
        reg.read(s, root, kind, v, "globals"))
    }(sink)

  /** The generic per-micro-batch pin re-resolution every rotating
    * serve shares: resolve the registry's current pin (falling back to
    * latest if never pinned), let `serve` score the static batch frame
    * against THAT generation with the family's own BATCH scorer, stamp
    * `served_version`, hand to `sink`. One pin-log read + lazy part
    * opens per batch; the generation's data is only scanned by the
    * serve plan itself. */
  private def rotatingServe(stream: DataFrame, root: String, kind: String)(
      serve: (DataFrame, Long) => DataFrame)(sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val reg = graft.ext.ArtifactRegistry
        val v = reg.currentPin(s, root, kind)
          .getOrElse(reg.latestVersion(s, root, kind))
        sink(v, serve(batch, v).withColumn("served_version", lit(v)))
      }
      .start()

  /** Pin-rotating BM25 serve: arriving FREE-TEXT queries (`qid`,
    * `query`) tokenize row-locally, take their idf annotations from
    * the pinned generation's vocab-sized `dfreq` part, and score/rank
    * through the SAME batch scorer the gated q118/q180 serves use
    * ([[graft.ext.Bm25.Index.scores]]/`rankTopK` — parity by
    * construction). Terms the pinned vocabulary never saw drop out of
    * the inner join, contributing zero — standard BM25 retrieval.
    * Upgrade/rollback is one `setPin` between micro-batches. */
  def bm25ServeStreamRotating(queries: DataFrame, root: String,
      kind: String, topK: Int = 10)(sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rotatingServe(queries, root, kind) { (batch, v) =>
      val s = batch.sparkSession
      val ix = graft.ext.Bm25.readIndex(s,
        graft.ext.ArtifactRegistry.versionPath(s, root, kind, v))
      val qterms = batch.select(col("qid"),
          explode(graft.functions.TextFunctions.tokens(lower(col("query"))))
            .as("term"))
        .filter(col("term") =!= "")
        .distinct() // a repeated query term scores once (set semantics)
        .join(ix.dfreq, "term")
        .select(col("qid"), col("term"), col("df"), col("idf_bits"))
      graft.ext.Bm25.rankTopK(ix.scores(qterms), topK)
    }(sink)

  /** Pin-rotating CONVERSATION serve — the rotating twin of
    * [[conversationStreamResumed]], closing the one served artifact
    * family (conv_ckpt) that had no rotation path. The durable-state
    * posture: conversation state lives in the REGISTRY, not the state
    * store. Each micro-batch resolves the current pin, eagerly
    * verifies THAT generation's certificate (untampered pair XOR +
    * complete 1..k prefix per group — refuse loudly, the
    * [[conversationStreamResumed]] posture), then folds the batch's
    * arrivals with the SAME batch resume the gated q201 uses
    * ([[graft.enrich.EnrichRunner.resumeConversations]] over
    * checkpointed prompts ∪ arrivals — parity by construction, not
    * reimplementation): replayed turns cost zero enricher calls, each
    * arrival enriches against the history the pinned generation
    * implies, and only the ARRIVALS' rows are emitted (stamped
    * `served_version` by [[rotatingServe]]).
    *
    * Rotation semantics: a re-pin between micro-batches flips which
    * history subsequent batches fold from — upgrade (a newer
    * checkpoint cut further into the conversations) or roll back,
    * without restarting the query. Cross-batch continuity is BY
    * GENERATION: a batch's enriched turns become durable
    * conversation state only when published as the next conv_ckpt
    * generation and pinned — the pause→resume cycle as a serving
    * loop. A redelivered arrival that matches a checkpointed turn at
    * the same (group, order, prompt) REPLAYS its persisted row
    * verbatim (zero enricher calls — the at-least-once posture the
    * checkpoint makes cheap); a CONFLICTING one (same order key,
    * different prompt) fails the fold's turn-position tripwire — a
    * failed batch, never a silently shifted history. Arrivals carry
    * (`groupCol`, `orderCol`, `promptCol`). */
  def conversationServeStreamRotating(arrivals: DataFrame, root: String,
      kind: String, groupCol: String, orderCol: String, promptCol: String,
      enricher: Enricher, config: AiConfig,
      systemPrompt: Option[String] = None)(sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val state = new ConvServeBatchState
    rotatingServe(arrivals, root, kind) { (batch, v) =>
      val ckpt = graft.enrich.ConversationCheckpoint
      convServeFold(batch, v, root, kind, groupCol, orderCol, promptCol,
        enricher, config, systemPrompt, state,
        ckpt.touchedBuckets(batch, groupCol),
        bs => ckpt.chainResults(batch.sparkSession, root, kind, v, bs))
    }(convServeSink(sink, state, root, kind))
  }

  /** The per-batch conversation fold shared by the rotating and the
    * self-publishing serve: eagerly verify the pinned generation's
    * certificate, rebuild full input = checkpointed prompts ∪
    * arrivals, run the q201 batch resume (replays free, arrivals
    * enriched against restored history), emit only the arrivals'
    * rows. Returned frame is CACHED — the self-publishing serve
    * executes it twice (publish write + sink), and a second
    * execution of an external-API enrichment would both double the
    * calls and (with a real nondeterministic enricher) publish
    * responses the sink never saw. */
  private def convServeFold(batch: DataFrame, v: Long, root: String,
      kind: String, groupCol: String, orderCol: String, promptCol: String,
      enricher: Enricher, config: AiConfig,
      systemPrompt: Option[String], state: ConvServeBatchState,
      buckets: Seq[Int],
      resultsFor: Option[Seq[Int]] => DataFrame): DataFrame = {
    val s = batch.sparkSession
    val reg = graft.ext.ArtifactRegistry
    val ckpt = graft.enrich.ConversationCheckpoint
    // `resultsFor` builds the pinned generation's history (the pinned
    // generation may be a DELTA, so callers pass the chain union —
    // [[graft.enrich.ConversationCheckpoint.chainResults]]), optionally
    // partition-pruned to the batch's touched buckets. The fold and
    // the per-group checks are group-scoped, so they read the PRUNED
    // chain (O(touched) IO per batch); only the pre-gcert fallback's
    // whole-chain certificate check needs the full frame.
    val cursor = reg.read(s, root, kind, v, "cursor")
    val statKeys = Seq("ck_n", "ck_groups", "ck_gaps", "ck_xor_pair")
    val certsOpt = ckpt.effectiveGroupCerts(s, root, kind, v)
    val results =
      if (certsOpt.isDefined) resultsFor(Some(buckets)) else resultsFor(None)
    // fold only the TOUCHED conversations: emission is the batch's
    // rows alone and groups fold independently, so replaying untouched
    // groups' histories is pure waste — per-batch fold cost scales
    // with the batch's conversations (O(touched history)), not with
    // everything the chain holds.
    val touched = results.join(batch.select(col(groupCol)).distinct(),
      Seq(groupCol), "left_semi")
    certsOpt match {
      case Some(g) =>
        // INCREMENTAL verification — verify what you serve:
        // (a) gcert↔cursor summary consistency, once per (root, kind,
        //     version) per process (the chain is write-once, so this
        //     never changes for a version; a rotation to a NEW pin
        //     re-verifies that version) — O(groups), no history scan;
        if (!verifiedConvVersions.contains((root, kind, v))) {
          val ok = cursor.join(ckpt.foldGroupCertificate(g), statKeys)
            .filter(col("ck_gaps") === 0L).count() == 1L
          require(ok, s"conv checkpoint generation $v of $kind failed " +
            "certificate verification — refusing to serve a tampered or truncated history")
          if (verifiedConvVersions.size > 65536) verifiedConvVersions.clear()
          verifiedConvVersions.add((root, kind, v))
        }
        // (b) the groups THIS batch folds from: their stored rows must
        //     fold to exactly their standing per-group stats, in BOTH
        //     directions — a tampered row mismatches, and a group whose
        //     rows were deleted entirely (present in gcert, absent in
        //     data) would otherwise silently restart as a fresh
        //     conversation. O(touched history) per batch.
        val dataCert = ckpt.groupCertificate(touched, groupCol, promptCol)
        val gKeys = Seq(groupCol, "g_n", "g_max", "g_sum", "g_xor")
        val gTouched = g.join(batch.select(col(groupCol)).distinct(),
          Seq(groupCol), "left_semi")
        require(dataCert.join(gTouched, gKeys, "left_anti").isEmpty &&
            gTouched.join(dataCert, gKeys, "left_anti").isEmpty,
          s"conv checkpoint generation $v of $kind: a group this batch folds " +
            "from does not match its certified per-group stats — refusing to serve")
      case None =>
        // pre-gcert chain (a plain-publish seed not yet compacted):
        // the full data-derived check each batch, the original posture
        val verified = cursor.join(
            ckpt.certificate(results, groupCol, promptCol), statKeys)
          .filter(col("ck_gaps") === 0L).count() == 1L
        require(verified, s"conv checkpoint generation $v of $kind failed " +
          "certificate verification — refusing to serve a tampered or truncated history")
    }
    val cols = Seq(groupCol, orderCol, promptCol)
    val prior = touched.select(cols.map(col): _*)
    // at-least-once hardening: foreachBatch can REDELIVER a batch (a
    // failure between this batch's publish and the stream's commit) —
    // an arrival already present in the pinned generation at the same
    // (group, order, prompt) is a retry, not a new turn: it drops from
    // the fold input (its persisted row replays through the semi-join
    // below — same output rows, zero enricher calls, no duplicate
    // turn). A CONFLICTING redelivery (same order key, different
    // prompt) still fails the fold's turn-position tripwire loudly.
    // The distinct() collapses IN-BATCH duplicates first: a source that
    // delivers the same arrival twice within one micro-batch is the
    // same retry class, and without it the duplicate (group, order) key
    // would fail the turn-position tripwire for what is just a dup.
    val freshArrivals = batch.select(cols.map(col): _*).distinct()
      .join(prior, cols, "left_anti")
    val full = prior.unionByName(freshArrivals)
    val folded = graft.enrich.EnrichRunner.resumeConversations(full, groupCol,
        Seq(orderCol), promptCol, touched, enricher, config, systemPrompt)
      .join(batch.select(col(groupCol), col(orderCol)),
        Seq(groupCol, orderCol), "left_semi")
      .cache()
    state.cached = folded
    folded
  }

  /** Per-SERVE-INSTANCE batch bookkeeping — each conversation serve
    * allocates its own (two concurrent serves on one kind can no
    * longer unpersist each other's live batch cache between fold and
    * sink, and a stopped stream's last cache is released by its own
    * final-batch cleanup, not leaked in a process-global map).
    * `cached` is the batch's fold frame, unpersisted after the sink
    * consumed it; `gcFloor` is a compaction's deferred gc floor,
    * applied only AFTER the sink — the sink's re-execution path (a
    * cache eviction under memory pressure) re-reads the chain the
    * compaction replaced, so its files must outlive the batch. */
  private final class ConvServeBatchState {
    @volatile var cached: DataFrame = null
    @volatile var gcFloor: Long = 0L
  }

  /** (root, kind, version) triples whose gcert↔cursor summary already
    * verified in this process — write-once chains make the result
    * permanent for a version; the bound only guards a pathological
    * million-rotation process. */
  private val verifiedConvVersions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, Long)]()

  /** Wrap a serve's sink with the per-batch cleanup: unpersist the
    * fold cache once the sink consumed it (even on sink failure — the
    * retried batch rebuilds its own), then apply any compaction gc
    * the serve deferred past the sink. */
  private def convServeSink(sink: (Long, DataFrame) => Unit,
      state: ConvServeBatchState, root: String, kind: String)
      : (Long, DataFrame) => Unit = { (v, df) =>
    try sink(v, df)
    finally {
      Option(state.cached).foreach(_.unpersist(blocking = false))
      state.cached = null
      if (state.gcFloor > 0L) {
        graft.ext.ArtifactRegistry.gc(df.sparkSession, root, kind, state.gcFloor)
        state.gcFloor = 0L
      }
    }
  }

  /** A publishing serve compacts its generation chain once it reaches
    * this depth (or earlier, when the geometric trigger fires) — the
    * knob trading read amplification (a fold opens one `results` part
    * per chain link) against write amplification (a compaction
    * rewrites the full history). */
  val DefaultMaxChainDepth = 16

  /** [[conversationServeStreamRotating]] with the durable-state LOOP
    * closed: after folding a batch against the pinned generation, the
    * serve PUBLISHES the batch's enriched turns as the next conv_ckpt
    * generation and re-pins it — so the next micro-batch folds against
    * the history this one just extended, with no state store and no
    * manual re-pin. This is the pause→resume cycle as a serving loop:
    * every micro-batch boundary is a durable pause point, restartable
    * from the registry alone.
    *
    * Storage is BOUNDED on a long-lived stream (the LSM posture): a
    * normal batch publishes a DELTA generation — results part = only
    * this batch's fresh turns, cursor certifying the full chain via
    * `base_version` ([[graft.enrich.ConversationCheckpoint
    * .publishDelta]]) — so the per-batch durable write is O(batch),
    * not O(history). When the chain's cumulative delta rows reach its
    * base's size (the geometric trigger: each turn is rewritten
    * O(log history) times in total) or the chain reaches
    * `maxChainDepth` (the read-amplification cap: a fold never opens
    * more than that many parts), the batch publishes a self-contained
    * COMPACTION generation instead and, after the sink consumed the
    * batch, garbage-collects every generation below it — live
    * generations stay ≤ maxChainDepth + 1 and live rows O(history)
    * forever. The gc is deferred past the sink because the sink's
    * recompute path (a fold-cache eviction) re-reads the chain the
    * compaction replaced. Collected generations keep their manifest
    * and pin-log rows (the audit trail); their STORAGE goes — a
    * deployment that wants replay-from-any-boundary uses the
    * non-publishing [[conversationServeStreamRotating]] with
    * administrative checkpoints, or re-seeds from any surviving
    * compaction. Runs under the registry's single-operator-per-(root,
    * kind) contract: the auto-gc makes a concurrent second serve on
    * the same kind unsound, same as a concurrent publisher always was.
    *
    * The publish follows the staged discipline (certificate folded
    * from LANDED parts) and the fold frame is cached, so the
    * enrichment executes exactly once per batch — the publish write
    * populates the cache the sink then reads; with a real
    * nondeterministic enricher nothing is certified that the sink
    * did not see (spec-pinned by call counter). `corpus_fp` records
    * the new global max turn.
    *
    * Idempotent under foreachBatch's at-least-once delivery: a
    * redelivered batch (failure between publish and stream commit)
    * finds its arrivals already in the pinned chain, re-emits their
    * persisted rows verbatim (zero enricher calls), and publishes
    * nothing — no duplicate generation, no pin churn, no duplicated
    * turns (spec-pinned). Contrast with the state-store fold
    * ([[conversationStreamResumed]]), which THROWS on a replay: it
    * holds no persisted (prompt, response) to verify a replay
    * against, so refusing loudly is the only sound posture there. */
  def conversationServeStreamPublishing(arrivals: DataFrame, root: String,
      kind: String, groupCol: String, orderCol: String, promptCol: String,
      enricher: Enricher, config: AiConfig,
      systemPrompt: Option[String] = None,
      maxChainDepth: Int = DefaultMaxChainDepth)(sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maxChainDepth >= 1, "maxChainDepth bounds a non-empty chain")
    val state = new ConvServeBatchState
    rotatingServe(arrivals, root, kind) { (batch, v) =>
      val s = batch.sparkSession
      val reg = graft.ext.ArtifactRegistry
      val ckpt = graft.enrich.ConversationCheckpoint
      val buckets = ckpt.touchedBuckets(batch, groupCol)
      // ONE pruned chain construction per batch, shared by the fold
      // and the redelivery/freshness checks below: the chain walk,
      // per-link bucket listing, and per-bucket existence probes are
      // driver-side filesystem metadata work, and building the
      // identical frame twice doubles those round-trips on the hot
      // serving path (dozens per batch on an object store)
      lazy val prunedChain = ckpt.chainResults(s, root, kind, v, Some(buckets))
      val out = convServeFold(batch, v, root, kind, groupCol, orderCol,
        promptCol, enricher, config, systemPrompt, state, buckets,
        { case Some(_) => prunedChain
          case None => ckpt.chainResults(s, root, kind, v) })
      val keys = Seq(groupCol, orderCol, promptCol)
      // an arrival can only collide with standing history inside its
      // own group's bucket, so the redelivery/freshness checks read
      // the bucket-PRUNED chain — O(touched) IO, like the fold
      val priorKeys = prunedChain.select(keys.map(col): _*)
      // idempotent under foreachBatch redelivery: a batch whose every
      // arrival is already in the pinned chain replays (out comes from
      // prior rows) and publishes NOTHING — no duplicate generation,
      // no pin churn on a retried micro-batch. This count is over the
      // batch's KEY columns only, so deciding it never executes the
      // enrichment plan.
      val freshCount = batch.select(keys.map(col): _*).distinct()
        .join(priorKeys, keys, "left_anti").count()
      if (freshCount > 0L) {
        val resultCols = Seq(groupCol, orderCol, promptCol,
          "turn_number", "response")
        val delta = out.select(resultCols.map(col): _*)
          .join(priorKeys, keys, "left_anti")
        // compaction policy inputs, all KB-sized: the chain's per-link
        // results sizes come from the manifest, never a data scan
        val chain = ckpt.chain(s, root, kind, v)
        val sizes = reg.manifest(s, root, kind)
          .filter(col("part") === "results" && col("version").isin(chain: _*))
          .select(col("version"), col("n_rows"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val baseRows = sizes.getOrElse(chain.last, 0L)
        val deltaRows = chain.init.map(sizes.getOrElse(_, 0L)).sum + freshCount
        val priorTurn = reg.read(s, root, kind, v, "cursor")
          .select(col("cursor_turn")).collect()(0).getLong(0)
        // executes the cached fold (its first execution — the cache
        // populates here, the sink then reads it)
        val deltaTurn = delta.agg(max(col("turn_number"))).collect()(0).getLong(0)
        val maxTurn = math.max(priorTurn, deltaTurn)
        val compact = chain.length + 1 > maxChainDepth || deltaRows >= baseRows
        val nv =
          if (compact) {
            // a compaction REWRITES the full chain into a fresh
            // self-contained generation: re-verify the full data
            // against the pinned summary first — the per-batch
            // incremental checks only cover groups batches actually
            // read, and without this a tampered UNTOUCHED group would
            // be laundered into a freshly-certified compaction. The
            // UNPRUNED chain read is deliberate here (the only one in
            // the serve loop): O(history), paid at compactions only
            // (amortized O(log) per turn).
            val prior = ckpt.chainResults(s, root, kind, v)
            val ok = reg.read(s, root, kind, v, "cursor")
              .join(graft.enrich.ConversationCheckpoint.certificate(
                prior, groupCol, promptCol),
                Seq("ck_n", "ck_groups", "ck_gaps", "ck_xor_pair"))
              .filter(col("ck_gaps") === 0L).count() == 1L
            require(ok, s"refusing to compact $kind v$v: the chain's data no " +
              "longer matches its certified summary")
            ckpt.publishDelta(s, root, kind,
              prior.unionByName(delta.select(prior.columns.map(col): _*)),
              groupCol, promptCol, cursorTurn = maxTurn, baseVersion = 0L)
          } else ckpt.publishDelta(s, root, kind, delta, groupCol, promptCol,
            cursorTurn = maxTurn, baseVersion = v)
        reg.setPin(s, root, kind, nv)
        if (compact) state.gcFloor = nv
      }
      out
    }(convServeSink(sink, state, root, kind))
  }

  /** Pin-rotating IVF-PQ vector serve: arriving query vectors (`id`,
    * `codes`) probe the pinned generation through the SAME batch probe
    * the gated q165/q194 serves use
    * ([[graft.ext.ProductQuantize.ivfPqTopKWith]]). A flip to the
    * upgraded generation (arrivals added, codebooks frozen — the q167
    * lifecycle) changes which corpus the SAME query searches, between
    * micro-batches, no restart. */
  def ivfPqServeStreamRotatingPinned(queries: DataFrame, root: String,
      kind: String, nProbe: Int = 4, topK: Int = 10)(
      sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rotatingServe(queries, root, kind) { (batch, v) =>
      graft.ext.ProductQuantize.ivfPqTopKWith(
        graft.ext.ArtifactRegistry.readIvfPq(batch.sparkSession, root, kind, v),
        batch, nProbe, topK)
    }(sink)

  /** Streaming NB quality scoring — q169's deployment split (the
    * [[tfidfKeywordStream]] discipline): q169's batch scorer
    * [[graft.ext.NbClassifier.score]] applied to a [[windowed]] stream,
    * with the window as its pass-through key. The vocab-sized weight
    * table ([[graft.ext.NbClassifier.trainWeights]]) arrives static;
    * the two global integers (per-occurrence constant D and the class
    * prior) ride as a one-row literal frame — they are the ENTIRE
    * non-vocabulary training artifact, so serving state is one static
    * table and two numbers. Each arrival's tokens left-join the static
    * weights (a token the training corpus never saw carries weight 0)
    * and ONE windowed per-doc aggregation emits (doc_id, n_tokens,
    * score_bits, nb_keep), equal to the batch score (spec-pinned).
    * Zero-token docs survive via explode_outer and score prior-only.
    * Same unique-doc-per-window assumption as [[tfidfKeywordStream]]:
    * redelivering sources must dedupe upstream. */
  def nbScoreStream(docs: DataFrame, weights: DataFrame,
      dBits: Long, priorBits: Long): DataFrame =
    graft.ext.NbClassifier.score(windowed(docs), "doc_id", "text", weights,
        docs.sparkSession.range(1)
          .select(lit(dBits).as("d_bits"), lit(priorBits).as("prior_bits")),
        WindowKey)
      .select(col("id").as("doc_id"), col("n_tokens"), col("score_bits"), col("nb_keep"))

  final case class GapEvent(userId: Long, day: Long, cents: Long,
    eventTime: java.sql.Timestamp)
  final case class GapRow(userId: Long, day: Long, nEvents: Long,
    cumEvents: Long, carriedV: Double)
  final case class GapFillState(
    emittedThrough: Option[Long], // last day already emitted for this key
    cum: Long,                    // running event total through emittedThrough
    lastCents: Long,              // last observed daily value (exact cents)
    pending: Map[Long, (Long, Long)]) // open days: day -> (n, cents)

  /** Streaming twin of q109's gap-fill/imputation
    * ([[graft.operators.GapFill.dailyGapFill]]): per-user daily rows —
    * zero-filled silent days, running event total, last observed daily
    * value carried forward — emitted INCREMENTALLY as the watermark
    * finalizes each day. Keyed state is the (last-emitted-day, running
    * total, last-value) triple plus the open per-day aggregates still
    * inside the watermark horizon; a day is emitted once the watermark
    * passes its end, together with any silent gap days before it
    * (which need no buffered data at all — just the carried state).
    * An event-time timeout re-fires the key when the watermark
    * finalizes a buffered day even if no new data arrives for it.
    *
    * Emitted rows match the batch computation exactly: counts and
    * cumulative totals are integers, and the carried value is the
    * day's exact cent total through ONE correctly-rounded
    * decimal→double conversion (the [[anomalyStream]] discipline) —
    * the same single rounding the batch DECIMAL sum gets from its
    * double cast. The batch grid ends at the key's last OBSERVED day;
    * the stream, which cannot know a day is the last, simply stops
    * emitting after it until more data arrives — same rows, finalized
    * later. Requires a watermark on `eventTime` upstream (event-time
    * timeouts need one); state is bounded by the watermark horizon
    * (emitted days leave `pending`). */
  def gapFillStream(ds: Dataset[GapEvent]): Dataset[GapRow] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[GapEvent], state: GroupState[GapFillState]) =>
          val st0 = state.getOption.getOrElse(GapFillState(None, 0L, 0L, Map.empty))
          var pending = st0.pending
          rows.foreach { e =>
            val (n, c) = pending.getOrElse(e.day, (0L, 0L))
            pending = pending.updated(e.day, (n + 1L, c + e.cents))
          }
          val wmMs = state.getCurrentWatermarkMs()
          // a day d is final once the watermark passes its end: no event
          // with time < wm can arrive, and every event in day d has
          // time < (d+1)·86400s ≤ wm
          val completed = pending.keySet.filter(d => (d + 1L) * 86400000L <= wmMs)
          var emitted = st0.emittedThrough
          var cum = st0.cum
          var lastC = st0.lastCents
          val out = Seq.newBuilder[GapRow]
          if (completed.nonEmpty) {
            val from = emitted.map(_ + 1L).getOrElse(completed.min)
            val to = completed.max
            (from to to).foreach { d =>
              val (n, c) = pending.getOrElse(d, (0L, 0L))
              cum += n
              if (n > 0L) lastC = c
              out += GapRow(user, d, n, cum,
                new java.math.BigDecimal(lastC).movePointLeft(2).doubleValue())
              pending -= d
            }
            emitted = Some(to)
          }
          state.update(GapFillState(emitted, cum, lastC, pending))
          // re-fire when the watermark finalizes the oldest open day
          // (strictly above the current watermark — completed days left)
          if (pending.nonEmpty)
            state.setTimeoutTimestamp((pending.keys.min + 1L) * 86400000L)
          out.result().iterator
      }
  }
}
