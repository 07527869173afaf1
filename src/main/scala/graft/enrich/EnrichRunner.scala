package graft.enrich

import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

import org.apache.spark.{GraftTaskShim, TaskContext}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.util.LongAccumulator
import graft.model.AiConfig

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** The external-map executors (SURVEY.md §2.9) — the one part of the
  * engine that is necessarily opaque to Catalyst. Everything upstream
  * (template expansion, filters) and downstream (assembly, ordering)
  * stays in Column space; only the enrichment call itself runs in
  * `mapPartitions`, with per-partition client init, rate limiting,
  * retries, and error quarantine.
  *
  * Concurrency (E4/E5, `main.py:332-348`): every runner drives one
  * per-task window that keeps up to `min(rateLimit, 10)` calls in
  * flight, the reference's `asyncio.Semaphore(min(rate_limit, 10))`.
  * Rows of one conversation chain on each other, so calls stay
  * sequential within a group and run concurrently across groups;
  * ungrouped rows are independent. The reference's semaphore is
  * process-wide; here the bound is per task, so P concurrent tasks may
  * hold P times as many calls — the same documented relaxation as the
  * per-task rate limiter (SURVEY.md §7.4).
  *
  * Scale design: a 1000-executor cluster runs one limiter per task with
  * budget rate/numPartitions (documented relaxation of the reference's
  * process-global window, main.py:606-629). No driver round-trips, no
  * collect; failure rows are kept (quarantined), not silently dropped
  * like the reference (main.py:487-502) — at 100 TB silent drops are
  * unauditable.
  */
object EnrichRunner {
  import graft.RowUtil.{appended, prefixAppended}

  /** Calls one task keeps in flight: the reference's semaphore bound. */
  private def inFlight(cfg: AiConfig): Int = math.max(1, math.min(cfg.rateLimit, 10))

  /** One enrichment call, as every path makes it: throttled on the
    * calling thread just before the call (so a chained turn counts in
    * the window it is sent in), counted as processed, retried with the
    * reference's policy (each backoff sleep counted as a retry), and
    * counted as an error if it finally fails. Calls run on pool
    * threads, and accumulators are not thread-safe, so each count holds
    * the task's metrics monitor. */
  private def enrichCounted(enricher: Enricher, messages: Seq[Message], cfg: AiConfig,
      limiter: Option[SlidingWindowRateLimiter], metrics: Option[EnrichMetrics]): Try[String] = {
    def count(acc: EnrichMetrics => LongAccumulator): Unit =
      metrics.foreach(m => m.synchronized(acc(m).add(1)))
    limiter.foreach(_.acquire())
    count(_.processed)
    val out = RetryPolicy.withRetries(cfg.retryAttempts,
      ms => { count(_.retries); Thread.sleep(ms) })(() => enricher.enrich(messages, cfg))
    if (out.isFailure) count(_.errors)
    out
  }

  /** The per-task window behind every runner. It reads at most `k` rows
    * ahead of its consumer and runs `step` for each on a pool of `k`
    * threads, with the task's `TaskContext` set on the pool thread. A
    * row for which `sameRun(previous row, row)` holds is chained on the
    * previous row's result and folds on from its state; any other row
    * starts from `start`. Rows come out strictly in input order. When
    * the task completes, the pool is stopped (queued rows dropped,
    * running calls and backoff sleeps interrupted) and drained before
    * the enricher is closed, so no call runs after `close()`. */
  private def window[S](rows: Iterator[Row], enricher: Enricher, k: Int, start: S,
      sameRun: (Row, Row) => Boolean)(step: (S, Row) => (S, Row)): Iterator[Row] = {
    type Result = Future[Try[(S, Row)]]
    val tc = TaskContext.get()
    val pool = Executors.newFixedThreadPool(k, (r: Runnable) => {
      val t = new Thread(r, "graft-enrich"); t.setDaemon(true); t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    enricher.open()
    def cleanup(): Unit = {
      pool.shutdownNow()
      drain(pool)
      enricher.close()
    }
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => cleanup())
    // every Throwable completes the future: Future.apply would leave a
    // fatal error's future pending, and the task would wait on it forever
    def attempt(s: S, r: Row): Try[(S, Row)] =
      try Success(GraftTaskShim.withTaskContext(tc)(step(s, r)))
      catch { case t: Throwable => Failure(t) }
    val inflight = scala.collection.mutable.Queue.empty[Result]
    var last: (Row, Result) = null
    var cleaned = false
    new Iterator[Row] {
      private def fill(): Unit =
        while (inflight.size < k && rows.hasNext) {
          val r = rows.next()
          val f: Result =
            if (last != null && sameRun(last._1, r))
              last._2.map(_.flatMap { case (s, _) => attempt(s, r) })
            else Future(attempt(start, r))
          last = (r, f)
          inflight.enqueue(f)
        }
      override def hasNext: Boolean = {
        fill()
        if (inflight.isEmpty && tc == null && !cleaned) { // no task: clean up at the end
          cleaned = true; cleanup()
        }
        inflight.nonEmpty
      }
      override def next(): Row = {
        fill()
        Await.result(inflight.dequeue(), Duration.Inf).get._2
      }
    }
  }

  /** Wait for a stopped pool's running calls to return, however long
    * they take: closing the enricher under a running call is what this
    * prevents. An interrupt does not cut the wait short; it is
    * re-asserted afterwards. */
  private def drain(pool: ExecutorService): Unit = {
    var interrupted = false
    while (!pool.isTerminated)
      try pool.awaitTermination(1, TimeUnit.SECONDS)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
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
    input.mapPartitions { it =>
      val limiter = perPartitionRate.map(new SlidingWindowRateLimiter(_))
      window(it, enricher, inFlight(cfg), (), (_: Row, _: Row) => false) { (_, r) =>
        val prompt = Option(r.get(promptIdx)).map(_.toString).getOrElse("")
        ((), enrichCounted(enricher, sys :+ Message("user", prompt), cfg, limiter, metrics) match {
          case Success(resp) => appended(r, resp, null)
          case Failure(e) => appended(r, null, e.getMessage)
        })
      }
    }(Encoders.row(schema))
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
    // doesn't re-run its API calls once per reference. The caller owns
    // the cache (`EnrichCheckpoint` drops it with the resumed frame).
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
    * The fold is [[runConversations]]'s with one twist: each input row
    * left-joins its prior response by (group, order cols); a matched
    * row REPLAYS — its persisted response is emitted verbatim and
    * folded into the history (prompt from today's input, response from
    * the checkpoint), no enricher call, no rate-limit acquire — while
    * unmatched rows enrich against the restored history. History is
    * reconstructed, never stored: the prompts are in the input and the
    * responses in the checkpoint, so the checkpoint stays O(completed
    * turns) with no serialized conversation state. A replayed row whose
    * persisted turn number disagrees with its fold position throws
    * (tripwire — the verification gate already proved prefix
    * integrity, so this firing means the caller bypassed the gate). */
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
    // join keys = (group, order cols) — the same keys the fold shuffles
    // on, so AQE can chain the exchanges; the prior side is the
    // completed prefix (≤ input-sized)
    val joined = df.join(p, keys, "left")
      .select(df.columns.map(col) :+ col("__prior_turn")
        :+ col("__prior_response"): _*)
    conversations(joined, df.schema.length, groupCol, orderCols, promptCol,
      enricher, config, systemPrompt, rateLimitPerMinute, metrics)
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
    * materialized per group — the window reads at most
    * `min(rateLimit, 10)` rows ahead, so a conversation with 10M rows
    * streams — and parallelism = shuffle partitions × the groups in one
    * task's window, the reference's "parallel across groups" model
    * (main.py:341-348) at cluster scale.
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
      metrics: Option[EnrichMetrics] = None): DataFrame =
    conversations(df, df.schema.length, groupCol, orderCols, promptCol,
      enricher, config, systemPrompt, rateLimitPerMinute, metrics)

  /** A conversation after some of its rows: the messages so far, the
    * user turns taken and their prompt chars. */
  private final case class Turns(history: Vector[Message], turn: Long, userChars: Long)

  /** The grouped fold over the first `width` columns of `input`. Any
    * columns past them are a resume's (prior turn, prior response)
    * pair: a row whose prior turn is set replays instead of calling. */
  private def conversations(
      input: DataFrame,
      width: Int,
      groupCol: String,
      orderCols: Seq[String],
      promptCol: String,
      enricher: Enricher,
      config: AiConfig,
      systemPrompt: Option[String],
      rateLimitPerMinute: Option[Int],
      metrics: Option[EnrichMetrics]): DataFrame = {
    val schema = StructType(input.schema.fields.take(width))
      .add("response", StringType).add("turn_number", LongType)
      .add("history_chars", LongType)
    val keyIdx = input.schema.fieldIndex(groupCol)
    val promptIdx = input.schema.fieldIndex(promptCol)
    val cfg = config
    val start = Turns(systemPrompt.map(Message("system", _)).toVector, 0L, 0L)
    // grouped path throttles too: budget split across shuffle partitions
    // (partition count = spark.sql.shuffle.partitions after repartition)
    val shufflePartitions = input.sparkSession.sessionState.conf.numShufflePartitions
    val perPartitionRate = rateLimitPerMinute.map(r =>
      math.max(1, r / math.max(1, math.min(shufflePartitions, r))))
    val repartitioned = rateLimitPerMinute match {
      case Some(r) if shufflePartitions > r =>
        input.repartition(r, col(groupCol))
      case _ => input.repartition(col(groupCol))
    }
    repartitioned
      .sortWithinPartitions(col(groupCol) +: orderCols.map(col): _*)
      .mapPartitions { it =>
        val limiter = perPartitionRate.map(new SlidingWindowRateLimiter(_))
        window(it, enricher, inFlight(cfg), start,
            (a: Row, b: Row) => a.get(keyIdx) == b.get(keyIdx)) { (t, r) =>
          val prompt = Option(r.get(promptIdx)).map(_.toString).getOrElse("")
          val messages = t.history :+ Message("user", prompt)
          val resp =
            if (width < r.length && !r.isNullAt(width)) { // replay a completed turn
              val priorTurn = r.getLong(width)
              require(priorTurn == t.turn + 1,
                s"checkpoint turn $priorTurn at fold position ${t.turn + 1} of " +
                  s"group ${r.get(keyIdx)} — resume requires the verified complete prefix")
              r.getString(width + 1)
            } else enrichCounted(enricher, messages, cfg, limiter, metrics).getOrElse(null)
          (Turns(messages :+ Message("assistant", Option(resp).getOrElse("")),
              t.turn + 1, t.userChars + prompt.length),
            prefixAppended(r, width, resp, t.turn + 1, t.userChars))
        }
      }(Encoders.row(schema))
  }
}
