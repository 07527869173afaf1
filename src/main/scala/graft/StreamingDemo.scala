package graft

import java.nio.file.Files

import graft.streaming.Streaming

/** Usage example + runtime drive for the streaming module: windowed
  * event counts over the events file stream, with stop + checkpoint
  * resume (the engine's answer to the reference's pause/resume,
  * SURVEY.md §2.8 T5/T6). `runMain graft.StreamingDemo [sfDir]`. */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val spark = LocalSessions.create(cpusOverride = Some(4))

    val outDir = Files.createTempDirectory("graft_stream_out").toString
    // parquet sink: supports checkpoint recovery (memory sink does not)
    def start() = Streaming.windowedEventCounts(Streaming.eventsStream(spark, dir))
      .writeStream.format("parquet").outputMode("append")
      .option("path", outDir)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    q1.processAllAvailable()
    val afterFirst = spark.read.parquet(outDir).count()
    println(s"[stream] first run emitted $afterFirst closed windows")
    q1.stop() // T6: stop; offsets + window state live in the checkpoint

    val q2 = start() // T5: resume from checkpoint — no reprocessing
    q2.processAllAvailable()
    val afterResume = spark.read.parquet(outDir).count()
    println(s"[stream] after resume: $afterResume rows (unchanged=${afterResume == afterFirst}: source exhausted, state restored, nothing reprocessed)")
    q2.stop()
    spark.read.parquet(outDir).orderBy("win_start", "event_type").show(6, truncate = false)

    // session windows: gap-merged per-user sessions as a stream
    val qs = Streaming.sessionizedEvents(Streaming.eventsStream(spark, dir))
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try qs.processAllAvailable() finally qs.stop()
    println(s"[stream] closed sessions emitted: ${spark.table("sessions").count()}")
    spark.table("sessions").orderBy("user_id", "session_start").show(4, truncate = false)
    spark.stop()
  }
}
