package graft

import graft.enrich.{DeterministicEnricher, EnrichMetrics, EnrichRunner}
import graft.model.AiConfig
import graft.pipeline.JobControl

/** Runtime drive for job control + metrics (SURVEY.md P6/T6, A4/A6):
  * cancel a running job group from another thread, then run a metered
  * enrichment map and report rate/ETA. `runMain graft.ControlDemo`. */
object ControlDemo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSessions.create(cpusOverride = Some(4), logLevel = "ERROR")
    import spark.implicits._

    val slow = spark.range(0, 200000, 1, 8).as[Long]
      .mapPartitions(it => it.map { i => Thread.sleep(1); i })
    val canceller = new Thread {
      override def run(): Unit = {
        // wait until a job is actually running (cold-JVM planning can
        // take seconds; cancelling before submission is a no-op)
        val tracker = spark.sparkContext.statusTracker
        while (tracker.getActiveJobIds().isEmpty) Thread.sleep(100)
        Thread.sleep(500)
        JobControl.stop(spark, "demo-jg")
      }
    }
    canceller.start()
    val result = JobControl.runCancellable(spark, "demo-jg", "slow demo")(slow.count())
    canceller.join()
    println("CANCEL_RESULT=" + result.left.map(_.linesIterator.next().take(80)))
    println("SESSION_ALIVE=" + spark.range(5).count())

    val metrics = new EnrichMetrics(spark)
    val df = (1 to 50).map(i => (i.toLong, s"prompt $i")).toDF("id", "prompt")
    val t0 = System.currentTimeMillis()
    val n = EnrichRunner.mapWithResponse(df, "prompt", DeterministicEnricher(),
      AiConfig.test(), metrics = Some(metrics)).count()
    val elapsed = math.max(1L, System.currentTimeMillis() - t0)
    println(s"ENRICHED=$n processed=${metrics.processed.value} errors=${metrics.errors.value} " +
      f"rate/min=${metrics.ratePerMinute(elapsed)}%.0f eta_for_100=${metrics.etaSeconds(100, elapsed)}%.2fs")
    spark.stop()
  }
}
