package graft

import org.apache.spark.sql.SparkSession

/** Single factory for the local sessions used by every runnable main
  * (Verify, Bench, PlanAudit, the demos, ...) — one place for the
  * configs that must agree with the graded gate (shuffle partitions =
  * cores, AQE, 64 MB broadcast threshold, UTC timezone) and for the
  * SQL names of the native functions ([[graft.functions.GraftExtensions]],
  * which every `newSession()` child inherits). */
object LocalSessions {

  /** cpus defaults to SPARK_GRAFT_CPUS (the driver's knob), then 4.
    *
    * FIRST CREATOR WINS: this uses `getOrCreate()`, so if a SparkSession
    * already exists in the JVM (e.g. two mains run in one sbt session)
    * the existing session is returned and `cpusOverride` plus every
    * config above are ignored. That case logs a warning listing the
    * settings that differ from what was requested. */
  def create(cpusOverride: Option[Int] = None, logLevel: String = "WARN"): SparkSession = {
    val cpus = cpusOverride.map(_.toString)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // local single-JVM: broadcasting a few tens of MB beats any
      // shuffle; on a real cluster size this to executor memory
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    preexisting.foreach { _ =>
      // include the parity-critical settings (a reused session with a
      // non-UTC timezone silently shifts every timestamp query off the
      // oracle), not just the sizing knobs
      val wanted = Seq(
        "spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> cpus,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "64m")
      val drift = wanted.collect {
        case (k, v) if spark.conf.getOption(k).exists(_ != v) =>
          s"$k=${spark.conf.get(k)} (requested $v)"
      }
      if (drift.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "LocalSessions.create reused an existing SparkSession; requested settings " +
            s"ignored (first creator wins): ${drift.mkString(", ")}")
    }
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
