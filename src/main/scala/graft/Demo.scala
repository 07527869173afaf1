package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import graft.enrich.DeterministicEnricher
import graft.model._
import graft.pipeline.BatchPipeline
import graft.sinks.Sinks
import graft.sources.Sources

/** End-to-end usage example: the reference README's worked example
  * (`/root/reference/README.md:78-92`) run through the whole engine —
  * CSV ingest → grouped pipeline → consolidated + individual export →
  * ZIP. `runMain graft.Demo [outDir]`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(Files.createTempDirectory("graft_demo").toString)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val csv = Files.createTempFile("upload", ".csv")
    Files.write(csv, "topic,audience,priority\nAI,Teachers,High\nPython,Students,Medium\n"
      .getBytes(StandardCharsets.UTF_8))

    val df = Sources.load(spark, csv.toString)
    val cfg = PipelineConfig(
      ai = AiConfig.test(),
      mapping = MappingConfig(mainContent = "topic", groupBy = Some("priority")),
      prompt = PromptTemplate("Write an article about {topic} for {audience}"),
      output = OutputConfig(format = "both", includePrompt = true, includeTimestamp = true))
    val (results, quarantined, _) = BatchPipeline.run(df, cfg, DeterministicEnricher())

    results.show(truncate = false)
    Sinks.writeBoth(results, s"$outDir/export", includePrompt = true)
    Sinks.writeJsonPrettyArray(results, s"$outDir/export/consolidated/results_array.json")
    Sinks.zipDirectory(s"$outDir/export", s"$outDir/results.zip")
    println(s"results=${results.count()} quarantined=${quarantined.count()} zip=$outDir/results.zip")
    spark.stop()
  }
}
