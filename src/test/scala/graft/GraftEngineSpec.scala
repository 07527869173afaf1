package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.enrich.DeterministicEnricher
import graft.model._

/** The reference's endpoint surface end-to-end: upload → process →
  * status → export → reset (SURVEY.md §3 EP1-EP3 + control plane). */
class GraftEngineSpec extends SparkSpec {

  test("upload -> process -> status -> export both -> reset") {
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val engine = new GraftEngine(spark)
    val dir = Files.createTempDirectory("graft_engine")
    val csv = dir.resolve("articles.csv")
    Files.write(csv, "topic,audience,priority\nAI,Teachers,High\nPython,Students,Medium\n"
      .getBytes(StandardCharsets.UTF_8))

    val up = engine.upload(csv.toString)
    assert(up.name == "articles" && up.rows == 2)
    assert(up.columns == Seq("topic", "audience", "priority"))
    assert(spark.catalog.tableExists("articles"))

    val cfg = PipelineConfig(
      ai = AiConfig.test(),
      mapping = MappingConfig(mainContent = "topic", groupBy = Some("priority")),
      prompt = PromptTemplate("Write an article about {topic} for {audience}"),
      output = OutputConfig(includePrompt = true, includeTimestamp = false))
    val job = engine.process("articles", cfg, DeterministicEnricher())
    assert(job.results.count() == 2 && job.quarantined.count() == 0)

    val st = engine.status(job.jobId)
    assert(st("completed") == 2L && st("errors") == 0L)
    assert(st("rate_per_minute").asInstanceOf[Double] > 0.0)

    val zip = engine.exportResults(job.jobId, "both", dir.toString)
    assert(zip.endsWith("results.zip") && new java.io.File(zip).length() > 0)
    intercept[RuntimeException](engine.exportResults(job.jobId, "nope", dir.toString))

    engine.reset()
    assert(!spark.catalog.tableExists("articles"))
    // results and the enrichment output they derive from are unpersisted
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore)
    intercept[RuntimeException](engine.status(job.jobId))
  }
}
