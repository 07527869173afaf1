package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness: measure how the expensive queries GROW, not
  * just how fast they are at one size — the evidence behind every
  * "scale-safe" claim in the plan audit. Deterministically replicates
  * the driver's tables `factor`× with re-keyed ids (replica k adds the
  * fixed offset k·10·2³², so replicas never collide and every join
  * stays consistent: `o_orderkey`/`l_orderkey` share one scheme), runs the
  * named queries at BOTH scales in one warm JVM, and prints per-query
  * medians plus the observed scaling exponent
  * e = log(t_big/t_base) / log(factor) — e ≈ 1 is linear, e ≪ 1 means
  * a fixed-cost floor (job overhead/training side) still dominates,
  * e > 1 is the super-linear smell the audit exists to catch.
  *
  * Notes on fidelity: standing-corpus slices (doc_id < 250, %10
  * arithmetic) keep their absolute definitions, so TRAINING sides stay
  * fixed-size while serving/corpus sides grow — exactly the
  * production shape (yesterday's artifact, 10× today's corpus).
  * Dimension tables (region/nation/customer/supplier/part) are
  * symlinked, not replicated: they are broadcast-sized by design.
  *
  * Usage: runMain graft.ScaleStress <srcDir> <outDir> <factor> <q...>
  * (blown-up tables are built once; an existing outDir is reused). */
object ScaleStress {

  /** Tables that grow with the corpus, and how to re-key each replica:
    * id -> id + k·10·2³² — replica 0 keeps every id VERBATIM (so
    * absolute-threshold slices like doc_id < 250 stay the fixed
    * standing corpus), the offset keeps ids globally unique, AND it is
    * ≡ 0 (mod 10) so every replica stays in its source's %10 class:
    * train/eval and standing/arrival splits keep their MEANING at any
    * factor. (A non-multiple-of-10 offset scatters each text's
    * replicas across the classes — a copy of every training text lands
    * in the eval slice and decontamination rightly deletes the whole
    * corpus; q148 caught exactly that in the first run of this
    * harness.) Join keys share the scheme on both sides; passenger
    * keys (o_custkey, l_suppkey, user_id) stay — hot keys get factor×
    * hotter, which is the honest stress. Text replicates VERBATIM:
    * near-dup density rises with factor, and the df-capped posting
    * lists are exactly the lever that must keep candidate growth
    * bounded — that is part of what gets measured. */
  private val factTables: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey"))

  private val dimTables =
    Seq("region", "nation", "customer", "supplier", "part")

  def blowUp(s: SparkSession, srcDir: String, outDir: String, factor: Int,
      distinctText: Boolean = false): Unit = {
    val out = java.nio.file.Paths.get(outDir)
    val mode = if (distinctText) "distinct" else "clones"
    // the stamp carries BOTH axes a reuse can mislabel: mode AND
    // factor (a factor-10 corpus reused by a factor-100 run would
    // record factor-100 exponents over factor-10 data just as
    // silently as a mode mismatch would)
    val stamp = s"$mode:$factor"
    val marker = out.resolve("_mode")
    if (java.nio.file.Files.isDirectory(out)) {
      // built once, reused — but ONLY at the same (mode, factor): the
      // blown corpus's provenance is stamped in a marker file, and a
      // run that requests anything else (or finds a pre-marker or
      // half-built directory) refuses loudly rather than recording
      // mislabeled exponents in the cross-round table
      require(java.nio.file.Files.exists(marker) &&
          java.nio.file.Files.readString(marker).trim == stamp,
        s"$outDir was built as '" +
          (if (java.nio.file.Files.exists(marker))
            java.nio.file.Files.readString(marker).trim
          else "unknown (pre-marker)") +
          s"' but this run requests '$stamp' — point it at a different " +
          "outDir (or delete this one) so exponents are never mislabeled")
      return
    }
    java.nio.file.Files.createDirectories(out)
    factTables.foreach { case (t, idCols) =>
      val df = s.read.parquet(s"$srcDir/$t.parquet")
      // replica k re-keys id -> id + k·10·2³²: ids stay unique, the
      // additive multiple-of-10 offset keeps every replica in its
      // source's %10 class (and replica 0 verbatim), and the scheme is
      // identical for both sides of every key pair
      val blown = df.withColumn("__k",
          explode(sequence(lit(0), lit(factor - 1))))
      val rekeyed = idCols.foldLeft(blown) { (d, c) =>
        d.withColumn(c, col(c) + col("__k").cast("long") * (10L << 32))
      }
      // distinct-text mode: CORPUS growth instead of CLONE growth.
      // Verbatim replication measures clone-density blowup (the right
      // first stress for dedup paths); the dedup-first compositions
      // also need the orthogonal question measured — how they grow
      // when DISTINCT contents grow 10×. Each replica suffixes EVERY
      // word with a replica tag ("the" → "thezq3x"): every token maps
      // to a word-DEPENDENT new token, so per-replica token/shingle
      // diversity matches the original corpus (token-hash diversity
      // preserved — simhash/minhash signatures stay spread out) while
      // replicas are neither exact dups nor near-dups of their source
      // or of other replicas: factor× genuinely distinct content.
      // (A first attempt inserted ONE fixed tag token between every
      // word pair — that made ~half of every replica's token mass a
      // single repeated token, i.e. templated near-identical content,
      // and q203's survivor-scaled guard correctly refused the
      // quadratic: the guard catching a bad corpus, not a bad query.)
      // Replica 0 stays verbatim either way.
      val mutated =
        if (distinctText && t == "documents")
          rekeyed.withColumn("text",
            when(col("__k") === 0, col("text"))
              .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("$1zq"), col("__k"), lit("x")))))
        else rekeyed
      mutated.drop("__k")
        .write.mode("errorifexists").parquet(s"$outDir/$t.parquet")
    }
    dimTables.foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        out.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(s"$srcDir/$t.parquet"))
    }
    // marker lands LAST: a crashed half-build has no marker and the
    // next run refuses it instead of reusing a partial corpus
    java.nio.file.Files.writeString(marker, stamp)
  }

  /** Median wall time of `reps` runs of query `name` over `dir`. Each
    * run starts from an empty session-artifact store, so the shared
    * builds a query reads (k-means fits, near-dup clusters, indexes)
    * are inside the measured time: a row measures how the kernels
    * grow, not how a cached artifact's serve grows. */
  private def medianSecs(s: SparkSession, name: String, dir: String,
      reps: Int): Double = {
    val times = (1 to reps).map { _ =>
      graft.queries.SessionArtifacts.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(s, dir).count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(times.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = args(2).toInt
    // optional mode flag before the query names: --distinct-text builds
    // the blown corpus with genuinely DISTINCT replica texts (corpus
    // growth) instead of verbatim clones (clone-density growth)
    val distinctText = args.length > 3 && args(3) == "--distinct-text"
    val names = args.drop(if (distinctText) 4 else 3).toSeq
    val spark = LocalSessions.create(logLevel = "ERROR")
    blowUp(spark, srcDir, outDir, factor, distinctText)
    val reps = 3
    println(f"SCALESTRESS factor=$factor reps=$reps (medians)")
    println(f"${"query"}%-28s ${"base_s"}%8s ${"big_s"}%8s ${"exponent"}%8s")
    val rows = names.map { name =>
      val base = medianSecs(spark, name, srcDir, reps)
      val big = medianSecs(spark, name, outDir, reps)
      val e = math.log(big / base) / math.log(factor.toDouble)
      println(f"SCALESTRESS $name%-28s $base%8.2f $big%8.2f $e%8.2f")
      (name, base, big, e)
    }
    // machine-readable artifact (SPARK_GRAFT_SCALE_OUT, append-per-run):
    // the committed evidence behind every scale-safety claim, so a
    // cross-round exponent question reads a JSON table, not prose
    sys.env.get("SPARK_GRAFT_SCALE_OUT").foreach { path =>
      def n(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
      val mode = if (distinctText) "distinct" else "clones"
      // the source corpus's directory name (e.g. sf0.01): the scale the
      // factor multiplies
      val base = java.nio.file.Paths.get(srcDir).getFileName
      val json = rows.map { case (q, b, g, e) =>
        s"""{"base":"$base","factor":$factor,"reps":$reps,"mode":"$mode","artifacts":"rebuilt","query":"$q","base_s":${n(b)},"big_s":${n(g)},"exponent":${n(e)}}"""
      }.mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }
}
