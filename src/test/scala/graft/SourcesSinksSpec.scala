package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.sinks.Sinks
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Parser edge cases from the reference's own error branches
  * (FIXTURES.md; main.py:117-285) + sink round-trips. */
class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_src")
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("CSV: README worked example parses with header schema") {
    val p = tmp("t.csv", "topic,audience,priority\nAI,Teachers,High\nPython,Students,Medium\n")
    val df = Sources.load(spark, p)
    assert(df.columns.toSeq == Seq("topic", "audience", "priority"))
    assert(df.count() == 2)
  }

  test("CSV: fully-empty rows dropped; no-data and bad extension rejected") {
    val p = tmp("t.csv", "a,b\n1,2\n,\n ,\n3,4\n")
    assert(Sources.load(spark, p).count() == 2)
    val empty = tmp("e.csv", "a,b\n,\n")
    intercept[Sources.SourceError](Sources.csv(spark, empty))
    intercept[Sources.SourceError](Sources.load(spark, "/tmp/zzz.xlsx"))
  }

  test("JSON: array of objects parses; nested values become structs") {
    val p = tmp("t.json", """[{"topic":"AI","n":1},{"topic":"ML","n":2}]""")
    val df = Sources.json(spark, p)
    assert(df.count() == 2 && df.columns.sorted.toSeq == Seq("n", "topic"))
  }

  test("JSON: top-level single object rejected (array-of-objects contract)") {
    val p = tmp("obj.json", """{"a": 1, "b": 2}""")
    intercept[Sources.SourceError](Sources.json(spark, p))
  }

  test("JSON: key audit reports rows with missing keys (main.py:187-200)") {
    val p = tmp("t.json", """[{"a":1,"b":2},{"a":3}]""")
    val audit = Sources.jsonKeyAudit(Sources.json(spark, p)).collect()
    assert(audit.length == 1)
    assert(audit(0).getAs[scala.collection.Seq[String]]("missing_keys").toSeq == Seq("b"))
  }

  test("TXT sniffing follows main.py:226-238 exactly") {
    assert(Sources.sniffDelimiter("id,name,dept") == Some(","))
    assert(Sources.sniffDelimiter("hello, this is prose, with spaces") == None)
    assert(Sources.sniffDelimiter("id|name|dept") == Some("|"))
    assert(Sources.sniffDelimiter("id\tname\tdept") == Some("\t"))
    assert(Sources.sniffDelimiter("just a plain line") == None)
  }

  test("TXT structured: pipe-delimited with headers; invalid headers rejected") {
    val p = tmp("t.txt", "id|name\n1|alice\n2|bob\n")
    val df = Sources.txt(spark, p)
    assert(df.columns.toSeq == Seq("id", "name") && df.count() == 2)
    val bad = tmp("b.txt", "id|bad name\n1|x\n")
    intercept[Sources.SourceError](Sources.txt(spark, bad))
  }

  test("TXT simple: one row per non-blank line, single content column") {
    val p = tmp("t.txt", "Write about AI for students\nExplain recursion simply\n\nSummarize the water cycle\n")
    val df = Sources.txt(spark, p)
    assert(df.columns.toSeq == Seq("content") && df.count() == 3)
  }

  test("CSV sink round-trip: export then re-ingest is identity on rows") {
    val df = Seq(("g1", "mc", "x1", "r1"), ("g2", "mc2", "x2", "r2"))
      .toDF("group", "main_content", "extra", "response")
    val out = Files.createTempDirectory("graft_csv").toString + "/out"
    Sinks.writeCsv(df, out, singleFile = true)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSeq == Seq("group", "main_content", "extra", "response"))
    assert(back.count() == 2)
    assert(back.orderBy("group").collect().map(_.toSeq).toSeq ==
      df.orderBy("group").collect().map(_.toSeq).toSeq)
  }

  test("CSV sink keeps leading and trailing cell whitespace (csv.DictWriter parity)") {
    val df = Seq(("g1", " a "), ("g2", "b ")).toDF("group", "response")
    val out = Files.createTempDirectory("graft_csv_ws").toString + "/out"
    Sinks.writeCsv(df, out, singleFile = true)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.orderBy("group").select("response").as[String].collect().toSeq ==
      Seq(" a ", "b "))
  }

  test("JSON sink writes export layout; readable back") {
    val df = Seq(("g1", "m", "v", "resp", 1L)).toDF("group", "main_content", "zz", "response", "row_index")
    val out = Files.createTempDirectory("graft_json").toString + "/out"
    Sinks.writeJson(df, out, singleFile = true)
    val back = spark.read.json(out)
    assert(back.columns.sorted.toSeq == Seq("group", "main_content", "response", "zz"))
  }

  test("individual sink: one file per row, sanitized names, sections (S8)") {
    val df = Seq(
      (0L, "High/Risk", "mc1", "resp1", "input-a"),
      (1L, "###", "mc2", "resp2", "input-b"))
      .toDF("row_index", "group", "main_content", "response", "acol")
    val dir = Files.createTempDirectory("graft_ind").toString + "/files"
    Sinks.writeIndividual(df, dir, includeInput = true, includeTimestamp = false)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("result_001_HighRisk.txt", "result_002_unknown.txt"))
    val content = new String(Files.readAllBytes(Paths.get(dir, "result_001_HighRisk.txt")), StandardCharsets.UTF_8)
    assert(content.contains("INPUT:") && content.contains("ACOL: input-a") &&
      content.contains("RESPONSE:\nresp1"))
  }

  test("ORC round-trip through the source facade") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val dir = Files.createTempDirectory("graft_orc").toString + "/t.orc"
    df.write.orc(dir)
    val back = Sources.load(spark, dir)
    assert(back.count() == 2 && back.columns.toSeq == Seq("id", "v"))
  }

  test("pretty-array JSON sink emits a parseable literal array (S6 format)") {
    val df = Seq(("g1", "m1", "r1"), ("g2", "m2", "r2"))
      .toDF("group", "main_content", "response")
    val f = Files.createTempDirectory("graft_pj").toString + "/results.json"
    Sinks.writeJsonPrettyArray(df, f)
    val text = new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)
    assert(text.startsWith("[") && text.trim.endsWith("]"))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    assert(parsed.isArray && parsed.size() == 2)
    assert(parsed.get(0).get("group").asText() == "g1")
  }

  test("zip assembles both-mode export tree") {
    val df = Seq(("g", "m", "r", 1L)).toDF("group", "main_content", "response", "row_index")
    val dir = Files.createTempDirectory("graft_zip").toString
    Sinks.writeBoth(df, s"$dir/export")
    Sinks.zipDirectory(s"$dir/export", s"$dir/results.zip")
    assert(new java.io.File(s"$dir/results.zip").length() > 0)
    val zf = new java.util.zip.ZipFile(s"$dir/results.zip")
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSeq
      assert(names.exists(_.startsWith("individual/")) &&
        names.exists(_.startsWith("consolidated/")))
    } finally zf.close()
  }

  test("binaryFiles reads raw bytes with glob pushdown and size guard") {
    val dir = Files.createTempDirectory("graft_bin")
    Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3, 4))
    Files.write(dir.resolve("b.img"), Array.fill[Byte](10)(7))
    Files.write(dir.resolve("skip.txt"), "not binary".getBytes(StandardCharsets.UTF_8))
    val all = Sources.binaryFiles(spark, dir.toString, pathGlob = Some("*.img"))
    assert(all.count() == 2)
    val rows = all.orderBy("path").collect()
    assert(rows(0).getAs[Array[Byte]]("content").toSeq == Seq[Byte](1, 2, 3, 4))
    assert(rows(1).getAs[Long]("length") == 10L)
    // size guard drops the larger blob
    val small = Sources.binaryFiles(spark, dir.toString,
      pathGlob = Some("*.img"), maxBytesPerFile = Some(5L))
    assert(small.count() == 1)
    // the binary content feeds the multimodal pipeline end to end
    val packed = all.select(col("path").as("doc_id"), col("content").as("payload"))
    assert(packed.schema("payload").dataType.typeName == "binary")
  }

  test("compactParquet rewrites a many-file directory into few files, content intact") {
    val dir = Files.createTempDirectory("graft_compact")
    val fragmented = s"$dir/fragmented"
    val compacted = s"$dir/compacted"
    // 64 tiny files
    spark.range(0, 10000).toDF("id").repartition(64).write.parquet(fragmented)
    val smallFiles = new java.io.File(fragmented).listFiles().count(_.getName.endsWith(".parquet"))
    assert(smallFiles == 64)
    val planned = Sinks.compactParquet(spark, fragmented, compacted,
      targetFileBytes = 256L * 1024)
    val outFiles = new java.io.File(compacted).listFiles().count(_.getName.endsWith(".parquet"))
    assert(outFiles == planned && outFiles < smallFiles)
    // row-identical after compaction
    assert(spark.read.parquet(compacted).as[Long].collect().sorted.toSeq == (0L until 10000L))
    // in-place compaction is rejected (Overwrite would destroy the input)
    val e = intercept[IllegalArgumentException] {
      Sinks.compactParquet(spark, fragmented, fragmented)
    }
    assert(e.getMessage.contains("in place"))
  }
}
