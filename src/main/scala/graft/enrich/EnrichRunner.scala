package graft.enrich

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.util.LongAccumulator
import graft.model.AiConfig

import scala.util.{Failure, Success, Try}

/** The external-map executors (SURVEY.md §2.9) — the one part of the
  * engine that is necessarily opaque to Catalyst. Everything upstream
  * (template expansion, filters) and downstream (assembly, ordering)
  * stays in Column space; only the enrichment call itself runs in
  * `mapPartitions`, with per-partition client init, rate limiting,
  * retries, and error quarantine.
  *
  * Scale design: a 1000-executor cluster runs one limiter per task with
  * budget rate/numPartitions (documented relaxation of the reference's
  * process-global window, main.py:606-629). No driver round-trips, no
  * collect; failure rows are kept (quarantined), not silently dropped
  * like the reference (main.py:487-502) — at 100 TB silent drops are
  * unauditable.
  */
object EnrichRunner {
  import graft.RowUtil.appended

  /** One enrichment call, as every path makes it: counted as processed,
    * retried with the reference's policy (each backoff sleep counted as
    * a retry), and counted as an error if it finally fails. The async
    * path calls this from its pool threads, and accumulators are not
    * thread-safe, so each count holds the task's metrics monitor. */
  private def enrichCounted(enricher: Enricher, messages: Seq[Message], cfg: AiConfig,
      metrics: Option[EnrichMetrics]): Try[String] = {
    def count(acc: EnrichMetrics => LongAccumulator): Unit =
      metrics.foreach(m => m.synchronized(acc(m).add(1)))
    count(_.processed)
    val out = RetryPolicy.withRetries(cfg.retryAttempts,
      ms => { count(_.retries); Thread.sleep(ms) })(() => enricher.enrich(messages, cfg))
    if (out.isFailure) count(_.errors)
    out
  }

  /** E2+E3+E1+E7 ungrouped path (`main.py:432-439,513-522`): fully
    * parallel map; each row sends `[system?, user]`. Appends `response`
    * (null on failure) and `error` (null on success). Row-order within
    * partitions is preserved; callers that need the original order sort
    * on their index column afterwards (W2). */
  def mapWithResponse(
      df: DataFrame,
      promptCol: String,
      enricher: Enricher,
      config: AiConfig,
      systemPrompt: Option[String] = None,
      rateLimitPerMinute: Option[Int] = None,
      metrics: Option[EnrichMetrics] = None): DataFrame = {
    val schema = StructType(df.schema.fields)
      .add("response", StringType).add("error", StringType)
    val promptIdx = df.schema.fieldIndex(promptCol)
    // Global budget: if partitions outnumber requests/minute, a 1/min
    // floor per partition would multiply the configured limit — shrink
    // the partition count first so Σ per-partition budgets ≤ r.
    val (input, perPartitionRate) = rateLimitPerMinute match {
      case Some(r) =>
        val parts = math.max(1, df.rdd.getNumPartitions)
        if (parts > r) (df.coalesce(r), Some(1))
        else (df, Some(r / parts))
      case None => (df, None)
    }
    val cfg = config
    val sys = systemPrompt.map(Message("system", _)).toSeq
    val enc = Encoders.row(schema)
    input.mapPartitions { it =>
      enricher.open()
      org.apache.spark.TaskContext.get() match {
        case null => ()
        case tc => tc.addTaskCompletionListener[Unit](_ => enricher.close())
      }
      val limiter = perPartitionRate.map(new SlidingWindowRateLimiter(_))
      it.map { r =>
        limiter.foreach(_.acquire())
        val prompt = Option(r.get(promptIdx)).map(_.toString).getOrElse("")
        enrichCounted(enricher, sys :+ Message("user", prompt), cfg, metrics) match {
          case Success(resp) => appended(r, resp, null)
          case Failure(e) => appended(r, null, e.getMessage)
        }
      }
    }(enc)
  }

  /** E4 (`main.py:332-334,394`): bounded concurrent in-flight calls —
    * the reference's asyncio semaphore fan-out, here a per-partition
    * thread pool with at most `concurrency` outstanding calls. External
    * APIs are latency-bound, not CPU-bound, so a partition waiting on
    * one response at a time wastes its rate budget; the pipelined
    * iterator keeps `concurrency` requests in flight while emitting
    * rows strictly in input order. Pool and enricher are closed via the
    * task-completion listener. */
  def mapWithResponseAsync(
      df: DataFrame,
      promptCol: String,
      enricher: Enricher,
      config: AiConfig,
      concurrency: Int = 10,
      rateLimitPerMinute: Option[Int] = None,
      metrics: Option[EnrichMetrics] = None): DataFrame = {
    import java.util.concurrent.{Executors, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(concurrency >= 1, "concurrency must be >= 1")
    val schema = StructType(df.schema.fields)
      .add("response", StringType).add("error", StringType)
    val promptIdx = df.schema.fieldIndex(promptCol)
    // same global-budget discipline as the sequential path
    val (input, perPartitionRate) = rateLimitPerMinute match {
      case Some(r) =>
        val parts = math.max(1, df.rdd.getNumPartitions)
        if (parts > r) (df.coalesce(r), Some(1))
        else (df, Some(r / parts))
      case None => (df, None)
    }
    val cfg = config
    val enc = Encoders.row(schema)
    input.mapPartitions { it =>
      val pool = Executors.newFixedThreadPool(concurrency)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      enricher.open()
      def cleanup(): Unit = {
        // stop in-flight work (interrupts backoff sleeps) and WAIT for
        // it before closing the enricher's client underneath it
        pool.shutdownNow()
        pool.awaitTermination(30, TimeUnit.SECONDS)
        enricher.close()
      }
      org.apache.spark.TaskContext.get() match {
        case null => () // non-task context: iterator exhaustion cleans up
        case tc => tc.addTaskCompletionListener[Unit](_ => cleanup())
      }
      val limiter = perPartitionRate.map(new SlidingWindowRateLimiter(_))
      val inflight = scala.collection.mutable.Queue.empty[(Row, Future[scala.util.Try[String]])]
      var done = false
      new Iterator[Row] {
        private def fill(): Unit =
          while (inflight.size < concurrency && it.hasNext) {
            val r = it.next()
            // dispatch is throttled on the consumer thread: at most
            // `rate` submissions/min regardless of concurrency
            limiter.foreach(_.acquire())
            val prompt = Option(r.get(promptIdx)).map(_.toString).getOrElse("")
            inflight.enqueue((r, Future(
              enrichCounted(enricher, Seq(Message("user", prompt)), cfg, metrics))))
          }
        override def hasNext: Boolean = {
          fill()
          val more = inflight.nonEmpty
          if (!more && !done && org.apache.spark.TaskContext.get() == null) {
            done = true; cleanup()
          }
          more
        }
        override def next(): Row = {
          fill()
          val (r, f) = inflight.dequeue()
          Await.result(f, Duration.Inf) match {
            case Success(resp) => appended(r, resp, null)
            case Failure(e) => appended(r, null, e.getMessage)
          }
        }
      }
    }(enc)
  }

  /** T6 completion: finish a stopped run. Rows of `indexed` whose
    * `row_index` already appears in `priorResults` are reused verbatim;
    * only the missing remainder is enriched (the reference keeps
    * partial results exportable after stop, main.py:640-647 — this is
    * the "later, finish the job" half). */
  def resumeEnrichment(
      indexed: DataFrame,
      priorResults: DataFrame,
      promptCol: String,
      enricher: Enricher,
      config: AiConfig,
      metrics: Option[EnrichMetrics] = None): DataFrame = {
    // priorResults is referenced twice (anti-join + union); cache it so
    // a caller passing a LIVE enrichment plan (not a sink re-read)
    // doesn't re-run its API calls once per reference
    val prior = priorResults.cache()
    val missing = indexed.join(prior.select("row_index"), Seq("row_index"), "left_anti")
    val fresh = mapWithResponse(missing, promptCol, enricher, config, metrics = metrics)
    prior.unionByName(fresh, allowMissingColumns = true)
  }

  /** T5 grouped resume: finish a stopped CONVERSATION run mid-group
    * (the reference's pause also fires inside `process_single_item`,
    * main.py:388-392, reached from the sequential grouped branch at
    * main.py:508-512 — so resume must restore per-group message
    * history, not just skip completed rows). `prior` carries the
    * completed turns (the checkpoint's results part: input columns +
    * `turn_number` + `response`, a complete 1..k prefix per group —
    * [[ConversationCheckpoint]] verifies that before this fold runs).
    *
    * The fold is [[runConversations]]'s secondary sort with one twist:
    * each input row left-joins its prior response by (group, order
    * cols); a matched row REPLAYS — its persisted response is emitted
    * verbatim and folded into the history (prompt from today's input,
    * response from the checkpoint), no enricher call, no rate-limit
    * acquire — while unmatched rows enrich against the restored
    * history. History is reconstructed, never stored: the prompts are
    * in the input and the responses in the checkpoint, so the
    * checkpoint stays O(completed turns) with no serialized
    * conversation state. A replayed row whose persisted turn number
    * disagrees with its fold position throws (tripwire — the
    * verification gate already proved prefix integrity, so this firing
    * means the caller bypassed the gate). */
  def resumeConversations(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      promptCol: String,
      prior: DataFrame,
      enricher: Enricher,
      config: AiConfig,
      systemPrompt: Option[String] = None,
      rateLimitPerMinute: Option[Int] = None,
      metrics: Option[EnrichMetrics] = None): DataFrame = {
    val keys = groupCol +: orderCols
    val p = prior.select(
      keys.map(col) :+ col("turn_number").as("__prior_turn")
        :+ col("response").as("__prior_response"): _*)
    // join keys = (group, order cols) — the same keys the repartition
    // below shuffles on, so AQE can chain the exchanges; the prior side
    // is the completed prefix (≤ input-sized)
    val joined = df.join(p, keys, "left")
      .select(df.columns.map(col) :+ col("__prior_turn")
        :+ col("__prior_response"): _*)
    val n = df.schema.length
    val schema = StructType(df.schema.fields)
      .add("response", StringType).add("turn_number", LongType)
      .add("history_chars", LongType)
    val keyIdx = df.schema.fieldIndex(groupCol)
    val promptIdx = df.schema.fieldIndex(promptCol)
    val cfg = config
    val sys = systemPrompt
    val enc = Encoders.row(schema)
    val shufflePartitions = df.sparkSession.sessionState.conf.numShufflePartitions
    val perPartitionRate = rateLimitPerMinute.map(r =>
      math.max(1, r / math.max(1, math.min(shufflePartitions, r))))
    val repartitioned = rateLimitPerMinute match {
      case Some(r) if shufflePartitions > r =>
        joined.repartition(r, col(groupCol))
      case _ => joined.repartition(col(groupCol))
    }
    repartitioned
      .sortWithinPartitions(col(groupCol) +: orderCols.map(col): _*)
      .mapPartitions { it =>
        enricher.open()
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => enricher.close())
        }
        val limiter = perPartitionRate.map(new SlidingWindowRateLimiter(_))
        var currentKey: Any = null
        var started = false
        var history = Vector.empty[Message]
        var turn = 0L
        var userChars = 0L
        it.map { r =>
          val k = r.get(keyIdx)
          if (!started || k != currentKey) {           // new conversation run
            currentKey = k; started = true
            history = sys.map(s => Message("system", s)).toVector
            turn = 0L; userChars = 0L
          }
          val prompt = Option(r.get(promptIdx)).map(_.toString).getOrElse("")
          val priorChars = userChars
          val messages = history :+ Message("user", prompt)
          val resp =
            if (!r.isNullAt(n)) {                      // replay a completed turn
              val priorTurn = r.getLong(n)
              require(priorTurn == turn + 1,
                s"checkpoint turn $priorTurn at fold position ${turn + 1} of " +
                  s"group $k — resume requires the verified complete prefix")
              r.getString(n + 1)
            } else {                                   // enrich a fresh turn
              limiter.foreach(_.acquire())
              enrichCounted(enricher, messages, cfg, metrics).getOrElse(null)
            }
          history = messages :+ Message("assistant", Option(resp).getOrElse(""))
          turn += 1; userChars += prompt.length
          graft.RowUtil.prefixAppended(r, n, resp, turn, priorChars)
        }
      }(enc)
  }

  /** Split an enriched frame into (successes, quarantine) — E3 done
    * right: the reference drops failed rows (main.py:487-502); we keep
    * them routable to a dead-letter sink. */
  def quarantine(enriched: DataFrame): (DataFrame, DataFrame) =
    (enriched.filter(col("error").isNull).drop("error"),
     enriched.filter(col("error").isNotNull))

  /** A3/E5/E7 grouped path: parallel across groups, strictly sequential
    * and ordered within a group, threading conversation history
    * (`main.py:403-439,508-512`).
    *
    * Implementation is a secondary sort, not `collect_list`: repartition
    * by group key, sort partitions by (key, order), then stream each
    * key-run through the fold in `mapPartitions`. Nothing is
    * materialized per group — a conversation with 10M rows streams — and
    * parallelism = shuffle partitions, exactly the reference's
    * "parallel across groups" model (main.py:341-348) at cluster scale.
    *
    * Output appends: response, turn_number (1-based user turn), and
    * history_chars (total user-prompt chars before this row).
    */
  def runConversations(
      df: DataFrame,
      groupCol: String,
      orderCols: Seq[String],
      promptCol: String,
      enricher: Enricher,
      config: AiConfig,
      systemPrompt: Option[String] = None,
      rateLimitPerMinute: Option[Int] = None,
      metrics: Option[EnrichMetrics] = None): DataFrame = {
    val schema = StructType(df.schema.fields)
      .add("response", StringType).add("turn_number", LongType)
      .add("history_chars", LongType)
    val keyIdx = df.schema.fieldIndex(groupCol)
    val promptIdx = df.schema.fieldIndex(promptCol)
    val cfg = config
    val sys = systemPrompt
    val enc = Encoders.row(schema)
    // grouped path throttles too: budget split across shuffle partitions
    // (partition count = spark.sql.shuffle.partitions after repartition)
    val shufflePartitions = df.sparkSession.sessionState.conf.numShufflePartitions
    val perPartitionRate = rateLimitPerMinute.map(r =>
      math.max(1, r / math.max(1, math.min(shufflePartitions, r))))
    val repartitioned = rateLimitPerMinute match {
      case Some(r) if shufflePartitions > r =>
        df.repartition(r, col(groupCol))
      case _ => df.repartition(col(groupCol))
    }
    repartitioned
      .sortWithinPartitions(col(groupCol) +: orderCols.map(col): _*)
      .mapPartitions { it =>
        enricher.open()
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => enricher.close())
        }
        val limiter = perPartitionRate.map(new SlidingWindowRateLimiter(_))
        var currentKey: Any = null
        var started = false
        var history = Vector.empty[Message]
        var turn = 0L
        var userChars = 0L
        it.map { r =>
          val k = r.get(keyIdx)
          if (!started || k != currentKey) {           // new conversation run
            currentKey = k; started = true
            history = sys.map(s => Message("system", s)).toVector
            turn = 0L; userChars = 0L
          }
          limiter.foreach(_.acquire())
          val prompt = Option(r.get(promptIdx)).map(_.toString).getOrElse("")
          val priorChars = userChars
          val messages = history :+ Message("user", prompt)
          val resp = enrichCounted(enricher, messages, cfg, metrics).getOrElse(null)
          history = messages :+ Message("assistant", Option(resp).getOrElse(""))
          turn += 1; userChars += prompt.length
          appended(r, resp, turn, priorChars)
        }
      }(enc)
  }
}
