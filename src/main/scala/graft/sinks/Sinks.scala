package graft.sinks

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Export sinks (SURVEY.md §2.1 S6-S9), distributed-first:
  *
  *   - consolidated JSON/CSV: Spark writers with the reference's column
  *     layout (`/root/reference/main.py:713-733,747-751`); `coalesce(1)`
  *     only when a single file is explicitly requested — at scale you
  *     want the sharded write.
  *   - per-row files (S8, main.py:782-818): `foreachPartition` writing
  *     one .txt per result row under a shared directory — executors
  *     write in parallel; nothing is collected.
  *   - ZIP (the reference's delivery format) is an inherently
  *     single-stream post-step, done driver-side over the already-
  *     written files, documented as non-distributed (SURVEY.md §7.4).
  */
object Sinks {

  /** The reference's export column order (S6/S7): group, main_content,
    * original columns sorted, [prompt], response, [timestamp]; the
    * internal row_index is excluded from output (main.py:459-462,703-708). */
  def exportLayout(df: DataFrame): DataFrame = {
    val fixedHead = Seq("group", "main_content")
    val fixedTail = Seq("prompt", "response", "timestamp")
    val orig = df.columns.filterNot((fixedHead ++ fixedTail :+ "row_index").contains).sorted
    val ordered = (fixedHead.filter(df.columns.contains) ++ orig ++
      fixedTail.filter(df.columns.contains)).map(col)
    df.select(ordered: _*)
  }

  /** S6: consolidated JSON. `singleFile` → one part (reference parity);
    * default sharded JSON-lines for scale. */
  def writeJson(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = exportLayout(df)
    (if (singleFile) out.coalesce(1) else out)
      .write.mode(SaveMode.Overwrite).json(path)
  }

  /** S6 exact-format variant (`main.py:735`): a single pretty-printed
    * JSON ARRAY file, matching the reference byte format (indent-2
    * objects in an array). Necessarily single-stream — the rows funnel
    * through toLocalIterator (bounded driver memory), so use only for
    * reference-parity exports; the sharded [[writeJson]] is the scale
    * path. */
  def writeJsonPrettyArray(df: DataFrame, filePath: String): Unit = {
    val out = exportLayout(df)
    val jsonRows = out.toJSON.toLocalIterator()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val writer = mapper.writerWithDefaultPrettyPrinter()
    val sb = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(filePath), StandardCharsets.UTF_8)
    try {
      sb.write("[")
      var first = true
      while (jsonRows.hasNext) {
        if (!first) sb.write(",")
        first = false
        sb.write("\n")
        sb.write(writer.writeValueAsString(mapper.readTree(jsonRows.next())))
      }
      sb.write("\n]")
    } finally sb.close()
  }

  /** S7: consolidated CSV with header. Cells keep their leading and
    * trailing whitespace, as the reference's `csv.DictWriter` does
    * (Spark's CSV writer trims both by default). */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = exportLayout(df)
    (if (singleFile) out.coalesce(1) else out)
      .write.mode(SaveMode.Overwrite).option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false").option("ignoreTrailingWhiteSpace", "false")
      .csv(path)
  }

  /** S8 (main.py:782-818): one text file per result row, named
    * `result_{index:03d}_{sanitized_group}.txt`, with optional
    * INPUT/PROMPT/RESPONSE/TIMESTAMP sections (main.py:791-804).
    * Executors write concurrently into `dir`; filenames come from
    * row_index so they are globally unique without coordination. */
  def writeIndividual(
      df: DataFrame,
      dir: String,
      includeInput: Boolean = true,
      includePrompt: Boolean = false,
      includeTimestamp: Boolean = true): Unit = {
    new File(dir).mkdirs()
    val cols = df.columns
    val sysCols = Set("group", "main_content", "prompt", "response", "timestamp", "row_index")
    val inputCols = cols.filterNot(sysCols.contains).sorted
    val hasPrompt = cols.contains("prompt")
    val hasTs = cols.contains("timestamp")
    val d = dir
    def str(r: org.apache.spark.sql.Row, c: String): String =
      Option(r.getAs[Any](c)).map(_.toString).getOrElse("")
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.foreach { r =>
        val idx = r.getAs[Long]("row_index")
        val safe = {
          val s = str(r, "group").replaceAll("[^A-Za-z0-9 _-]", "").trim
          if (s.isEmpty) "unknown" else s
        }
        val sb = new StringBuilder
        if (includeInput) {
          sb.append("INPUT:\n")
          inputCols.foreach(c => sb.append(s"${c.toUpperCase}: ${str(r, c)}\n"))
          sb.append("\n")
        }
        if (includePrompt && hasPrompt) sb.append(s"PROMPT:\n${str(r, "prompt")}\n\n")
        sb.append(s"RESPONSE:\n${str(r, "response")}\n")
        if (includeTimestamp && hasTs) sb.append(s"\nTIMESTAMP: ${str(r, "timestamp")}\n")
        val f = new File(d, f"result_${idx + 1}%03d_$safe.txt") // 1-based names, main.py:810
        Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  /** S9 ("both", main.py:820-914): individual/ + consolidated/ trees. */
  def writeBoth(df: DataFrame, dir: String,
      includePrompt: Boolean = false, includeTimestamp: Boolean = true): Unit = {
    writeIndividual(df, s"$dir/individual",
      includePrompt = includePrompt, includeTimestamp = includeTimestamp)
    writeJson(df, s"$dir/consolidated/json", singleFile = true)
    writeCsv(df, s"$dir/consolidated/csv", singleFile = true)
  }

  /** Small-file compaction (engine extension): rewrite a parquet
    * directory into ~`targetFileBytes` output files. The file count
    * comes from the directory's ACTUAL on-disk size (a listing, not a
    * data scan), and rows move through one round-robin repartition —
    * no sort, no skew sensitivity. The 100 TB hygiene op: streaming
    * ingest and fine-grained partition writes accumulate thousands of
    * KB-scale files whose per-file open/footer cost dominates scans;
    * compaction restores scan efficiency. Returns the file count.
    *
    * For sorted layouts use [[graft.operators.Bucketing]] instead —
    * round-robin destroys clustering. */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    import scala.jdk.CollectionConverters._
    // the Overwrite write would delete the input out from under the
    // lazy read — in-place compaction needs a temp dir + rename
    require(Paths.get(inDir).toAbsolutePath.normalize !=
        Paths.get(outDir).toAbsolutePath.normalize,
      s"compactParquet cannot compact in place (in=$inDir out=$outDir): " +
        "write to a temp directory and swap")
    val walk = Files.walk(Paths.get(inDir))
    val bytes =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally walk.close()
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inDir)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    nFiles
  }

  /** Driver-side ZIP of an export directory (the reference's in-memory
    * zipfile, main.py:786-787, here streamed file-by-file). */
  def zipDirectory(dir: String, zipPath: String): Unit = {
    val base = Paths.get(dir)
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(zipPath)))
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .toSeq.sortBy(_.toString)
        .foreach { p =>
          zos.putNextEntry(new ZipEntry(base.relativize(p).toString))
          Files.copy(p, zos)
          zos.closeEntry()
        }
    } finally zos.close()
  }
}
