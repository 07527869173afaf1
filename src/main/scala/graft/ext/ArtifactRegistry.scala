package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned artifact registry on durable storage — the production
  * form of the engine's serving artifacts (vector indexes, dedup
  * dictionaries, classifiers, calibration tables, tokenizers): every
  * artifact generation is WRITE-ONCE under an explicit version path,
  * a small append-only parquet manifest records what was published,
  * and readers PIN a version — so yesterday's readers finish against
  * generation N while today's publisher lands generation N+1 next to
  * it. Nothing is ever overwritten: upgrading is publishing a new
  * version; rollback is re-pinning an old one; garbage collection is
  * a separate administrative delete of versions no reader pins.
  *
  * Layout under `root/kind/`:
  *   - `v<version>/<part>/` — one parquet directory per artifact part,
  *     immutable once published (`errorIfExists`, never `overwrite`)
  *   - `_manifest/` — append-only parquet: one row per published part
  *     (version, part, corpus_fp, n_rows, created_at_ms)
  *
  * Publish protocol: all part directories land FIRST, the manifest
  * rows land LAST — a version exists for readers only once its
  * manifest rows are visible, so a crashed half-publish is invisible
  * to every reader; the next publish numbers PAST any orphan directory
  * (max of manifest version and directory version, + 1), so a crash
  * never blocks the pipeline and cleanup stays administrative. The
  * manifest is KB-sized at any corpus scale (rows = versions × parts,
  * never data-sized); parts keep their upstream partitioning —
  * corpus-sized parts stay many-file parallel parquet, broadcast-sized
  * parts read whole. All path probing goes through the Hadoop
  * FileSystem API, so `root` can be any durable scheme Spark can reach
  * (HDFS, S3A, local). The registry's OWN protocol performs no renames
  * and never overwrites — every step appends NEW files under a fresh
  * path, and cross-file atomicity comes from ORDERING (parts first,
  * manifest last), not from file moves; per-directory write atomicity
  * is delegated to whatever parquet committer the deployment
  * configures (on object stores without atomic rename, an
  * S3-optimized committer). That delegation boundary is AUDITED, not
  * asserted: ArtifactRegistrySpec's rename-audit runs the full
  * publish→pin→read→compact→gc lifecycle through a rename-recording
  * FS and proves every rename on the wire is the committer's, each
  * inside the single directory being written — the registry's own
  * steps contribute zero (no real S3 endpoint exists in the build
  * environment; the audit pins the boundary an S3A+committer
  * deployment relies on). The one store property the lazy read
  * paths assume is listing-after-write consistency; on an
  * eventually-listing store use [[readAudited]] (manifest-certified
  * row counts make stale part listings detectable), and
  * [[currentPin]] already absorbs the compaction listing race by
  * re-resolving.
  *
  * `corpus_fp` is the publisher's fingerprint of the training corpus
  * (any stable integer — a count, an XOR checksum, a version tag); the
  * registry stores it so a reader can audit WHAT a generation was
  * built from without loading the generation.
  */
object ArtifactRegistry {

  private val ManifestDir = "_manifest"

  private def versionDir(root: String, kind: String, version: Long): String =
    f"$root/$kind/v$version%06d"

  /** Storage path of one part of a version — for graft-internal readers
    * that prune a partitioned part to specific subdirectories
    * ([[graft.enrich.ConversationCheckpoint.chainResults]]) and so
    * cannot go through [[read]]'s whole-directory scan. Callers must
    * hold a manifest-visible version (e.g. a chain link already
    * resolved through [[read]]). */
  private[graft] def partPath(root: String, kind: String, version: Long,
      part: String): String = s"${versionDir(root, kind, version)}/$part"

  private def fs(s: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def exists(s: SparkSession, path: String): Boolean = {
    val (f, p) = fs(s, path); f.exists(p)
  }

  /** The full manifest for `kind` — (version, part, corpus_fp, n_rows,
    * created_at_ms), one row per published part; empty frame with that
    * schema if nothing was ever published. Rows are unique on
    * (version, part) by construction; the ONE exception is a
    * manifest-compaction crash window (compacted file landed, replaced
    * files not yet deleted), which can show duplicate rows — same
    * values either way — until the next compaction folds them away.
    * Every registry reader is duplicate-safe (max/limit/Map-building
    * aggregations), so reads stay a plain scan rather than paying a
    * dedup exchange on every manifest consult; row-level consumers
    * that cannot tolerate a post-crash duplicate should dedupe on
    * (version, part) themselves. */
  /** The manifest's fixed schema, supplied EXPLICITLY on every read:
    * the control-plane queries (q194–q199 plus every rotating serve)
    * plan dozens of manifest/pin scans per action, and without a
    * user-supplied schema each `spark.read.parquet` pays a driver-side
    * footer fetch + schema merge at PLAN time — pure metadata overhead
    * on files whose schema is a write-side constant of this module. */
  private val ManifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("part", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("corpus_fp", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("created_at_ms", org.apache.spark.sql.types.LongType)))

  def manifest(s: SparkSession, root: String, kind: String): DataFrame = {
    val path = s"$root/$kind/$ManifestDir"
    if (exists(s, path)) s.read.schema(ManifestSchema).parquet(path)
    else s.range(0).select(
      col("id").as("version"), lit("").as("part"), col("id").as("corpus_fp"),
      col("id").as("n_rows"), col("id").as("created_at_ms"))
  }

  /** One publish = one appended manifest file; compaction folds them
    * periodically so a long-lived publishing LOOP (the conversation
    * serve publishes every micro-batch) pays O(1) file opens per
    * manifest read instead of O(total publishes) — the same bound
    * [[compactPinLog]] gives the pin log. */
  private val ManifestCompactThreshold = 16

  private def dataFiles(s: SparkSession, path: String)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    if (!exists(s, path)) Array.empty
    else {
      val (f, p) = fs(s, path)
      f.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")
      }
    }
  }

  /** Compact the manifest directory: rewrite all rows into ONE file
    * (another APPEND — a reader racing the compaction sees at worst
    * duplicate (version, part) rows, same values either way), then
    * delete the per-publish files it replaced. The fold dedupes on
    * (version, part), so a PREVIOUS compaction's crash-window
    * duplicates are cleaned permanently here rather than taxing every
    * read with a dedup exchange. History preserved in full; runs under
    * the single-publisher contract, so no publish can land between the
    * listing and the deletes. */
  def compactManifest(s: SparkSession, root: String, kind: String): Unit = {
    val old = dataFiles(s, s"$root/$kind/$ManifestDir")
    if (old.length <= 1) return
    s.read.parquet(old.map(_.getPath.toString).toIndexedSeq: _*)
      .dropDuplicates("version", "part")
      .coalesce(1).write.mode("append").parquet(s"$root/$kind/$ManifestDir")
    val (f, _) = fs(s, s"$root/$kind/$ManifestDir")
    old.foreach(st => f.delete(st.getPath, false))
  }

  /** One-shot retry on a FileNotFoundException anywhere in the failure
    * chain — the [[currentPin]] posture generalized to every
    * manifest-consuming collect: [[compactManifest]]'s append-then-
    * delete (like [[compactPinLog]]'s) leaves a transient window where
    * a reader lists a per-publish file the delete step removes before
    * the scan runs. The retry re-plans against a fresh listing, which
    * holds the compacted file with every row the deleted ones had —
    * a racing STREAMING reader (the rotating serves resolve manifests
    * per micro-batch) rides through instead of failing its batch.
    * Row-level batch consumers that scan the manifest lazily inside a
    * larger plan (the q194/q197 audits) can retry at their own action
    * the same way. */
  private[graft] def retryFnf[T](body: => T): T =
    try body catch { case e: Throwable if isFileNotFound(e) => body }

  /** Latest published version of `kind`, 0 if none — resolved from the
    * manifest (the only authority a READER consults: a part directory
    * without manifest rows is an invisible half-publish). KB-sized
    * scan. */
  def latestVersion(s: SparkSession, root: String, kind: String): Long = {
    val m = retryFnf(manifest(s, root, kind).agg(max(col("version"))).collect())(0)
    if (m.isNullAt(0)) 0L else m.getLong(0)
  }

  /** Highest version DIRECTORY present, published or not — the
    * publisher-side floor that makes a crashed half-publish skippable
    * instead of blocking (`errorIfExists` would otherwise collide with
    * its orphan directory forever). */
  private def maxDirVersion(s: SparkSession, root: String, kind: String): Long = {
    val (f, p) = fs(s, s"$root/$kind")
    if (!f.exists(p)) 0L
    else f.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .foldLeft(0L)(math.max)
  }

  /** Publish the next generation of `kind`: write every part under the
    * next version's directory (write-once — the mode throws rather
    * than clobbering a possibly in-use generation), then append the
    * manifest rows that make the version visible. Returns the
    * published version number.
    *
    * Single-publisher per (root, kind) by contract (the deployment's
    * release pipeline); readers need no coordination at all. */
  def publish(s: SparkSession, root: String, kind: String,
      corpusFp: Long, parts: Seq[(String, DataFrame)]): Long =
    publishStaged(s, root, kind, corpusFp, parts, _ => Seq.empty)

  /** [[publish]] with DERIVED parts: `derived` receives a lazy parquet
    * reader per LANDED primary part and returns additional parts to
    * land in the SAME generation. This is the countLandedRows
    * philosophy applied to part contents — a certificate/summary part
    * must describe what storage HOLDS, not what re-executing the input
    * plan would produce this time: with a nondeterministic primary plan
    * (an external-API enrichment is the canonical case) recomputing
    * from the plan both doubles the external calls and certifies
    * responses that never landed, so verification would refuse every
    * healthy checkpoint. The manifest rows for primary AND derived
    * parts land LAST, so the half-publish invisibility guarantee is
    * unchanged.
    *
    * `partitionCols` (part name → Hive-partition columns) lands that
    * part as a partitioned directory layout, so a reader with a filter
    * on those columns partition-prunes to the touched subdirectories —
    * the lever behind the conversation chain's group-bucketed results
    * ([[graft.enrich.ConversationCheckpoint.publishDelta]]); the
    * landed-part reads (row counts, derived-part inputs) discover the
    * partitions transparently. */
  def publishStaged(s: SparkSession, root: String, kind: String,
      corpusFp: Long, parts: Seq[(String, DataFrame)],
      derived: Map[String, DataFrame] => Seq[(String, DataFrame)],
      partitionCols: Map[String, Seq[String]] = Map.empty): Long = {
    require(parts.nonEmpty, "an artifact has at least one part")
    val v = math.max(latestVersion(s, root, kind),
      maxDirVersion(s, root, kind)) + 1
    def land(name: String, df: DataFrame): (String, Long) = {
      require(name.nonEmpty && !name.startsWith("_"),
        s"part name '$name' is reserved")
      val w = df.write.mode("errorifexists")
      partitionCols.getOrElse(name, Nil) match {
        case Nil => w.parquet(s"${versionDir(root, kind, v)}/$name")
        case cs =>
          val dir = s"${versionDir(root, kind, v)}/$name"
          w.partitionBy(cs: _*).parquet(dir)
          // a dynamic-partition write of ZERO rows lands no parquet
          // file at all (files are created lazily per row) — a later
          // read of the part would fail schema inference, a regression
          // vs the unpartitioned path's schema-bearing empty file.
          // Land the schema explicitly: one empty UNPARTITIONED file
          // at the part root (partition columns dropped — limit(0)
          // optimizes to an empty relation, so the input plan never
          // re-executes), which readers then see as an ordinary
          // unpartitioned empty part
          if (!hasDataFile(s, dir))
            df.limit(0).drop(cs: _*).write.mode("append").parquet(dir)
      }
      // count the LANDED parquet, not the input plan: the manifest
      // certifies what storage holds — from the footers' row-group
      // metadata, never a data re-scan (a corpus-sized part would
      // otherwise be read twice per publish)
      name -> countLandedRows(s, s"${versionDir(root, kind, v)}/$name")
    }
    val primary = parts.map { case (name, df) => land(name, df) }
    val landed = parts.map { case (name, _) =>
      name -> s.read.parquet(s"${versionDir(root, kind, v)}/$name")
    }.toMap
    val derivedCounts = derived(landed).map { case (name, df) =>
      require(!landed.contains(name),
        s"derived part '$name' collides with a primary part")
      land(name, df)
    }
    val now = System.currentTimeMillis()
    import s.implicits._
    (primary ++ derivedCounts).map { case (name, n) => (v, name, corpusFp, n, now) }
      .toDF("version", "part", "corpus_fp", "n_rows", "created_at_ms")
      .coalesce(1) // parts-count rows — one manifest file per publish
      .write.mode("append").parquet(s"$root/$kind/$ManifestDir")
    // keep the manifest's FILE count bounded: a publishing loop reads
    // the manifest several times per micro-batch, so without
    // compaction a long-lived stream pays O(total publishes) file
    // opens per read forever (the pin-log lesson)
    if (dataFiles(s, s"$root/$kind/$ManifestDir").length > ManifestCompactThreshold)
      compactManifest(s, root, kind)
    v
  }

  /** Exact row count of a landed parquet directory from its footers'
    * row-group metadata — what the manifest certifies, at the cost of
    * one KB-sized footer read per file instead of a full data scan
    * (the difference between "publish is metadata-priced" and "publish
    * re-reads the corpus-sized artifact it just wrote"). Runs no Spark
    * job at all (spec-pinned in ArtifactRegistrySpec); at cluster
    * scale the per-file reads are independent and could fan out, but
    * even driver-side they are O(files) footer fetches, never O(rows).
    */
  /** Whether any parquet DATA file exists under `path` (recursive) —
    * the zero-row-partitioned-write probe: metadata listing only, no
    * footer reads. */
  private def hasDataFile(s: SparkSession, path: String): Boolean = {
    val (f, p) = fs(s, path)
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith(".")) return true
    }
    false
  }

  private[graft] def countLandedRows(s: SparkSession, path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val (f, p) = fs(s, path)
    val conf = s.sparkContext.hadoopConfiguration
    val it = f.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith(".")) {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try total += r.getRecordCount finally r.close()
      }
    }
    total
  }

  /** Read one part of a PINNED version as a lazy parquet scan — the
    * serving entry point: execution against the result reads only that
    * generation's immutable files, so a concurrent newer publish
    * cannot perturb it (spec-pinned in ArtifactRegistrySpec).
    *
    * Durable-FS contract: on a store with LISTING-AFTER-WRITE
    * consistency (HDFS, local FS, modern S3) this is complete by the
    * manifest-last publish ordering — a manifest-visible version's
    * part files are already visible. On an EVENTUALLY-listing store
    * there is no cross-file ordering guarantee: the manifest row can
    * surface while the part directory's listing still omits files, and
    * this lazy read would then silently scan a PARTIAL part. Use
    * [[readAudited]] there — the manifest's footer-certified row count
    * makes the staleness detectable. */
  def read(s: SparkSession, root: String, kind: String,
      version: Long, part: String): DataFrame = {
    val path = s"${versionDir(root, kind, version)}/$part"
    require(exists(s, path),
      s"no published part '$part' at $kind v$version under $root")
    s.read.parquet(path)
  }

  /** [[read]] for eventually-listing stores: before returning the
    * scan, count the rows the CURRENT listing's footers hold
    * ([[countLandedRows]] — KB-sized metadata reads) and require
    * equality with the manifest's certified `n_rows`. A stale listing
    * that omits part files surfaces as a loud refusal ("retry when the
    * listing converges") instead of a silently truncated artifact.
    * The returned frame re-lists immediately after the audit — the
    * residual window is one listing round-trip, vs unbounded for the
    * unaudited read (spec-pinned in ArtifactRegistrySpec against a
    * stale-listing FS). */
  def readAudited(s: SparkSession, root: String, kind: String,
      version: Long, part: String): DataFrame = {
    val path = s"${versionDir(root, kind, version)}/$part"
    require(exists(s, path),
      s"no published part '$part' at $kind v$version under $root")
    val certified = retryFnf(manifest(s, root, kind)
      .filter(col("version") === version && col("part") === part)
      .agg(max(col("n_rows"))).collect())(0)
    require(!certified.isNullAt(0),
      s"part '$part' of $kind v$version has no manifest row under $root")
    val listed = countLandedRows(s, path)
    require(listed == certified.getLong(0),
      s"part '$part' of $kind v$version lists $listed rows but the manifest " +
        s"certifies ${certified.getLong(0)} — the store's listing is stale or the " +
        "part is damaged; retry when the listing converges")
    s.read.parquet(path)
  }

  /** Root path of a PINNED, manifest-visible version — for loaders
    * that read a multi-part layout themselves (e.g.
    * [[Bm25.readIndex]]). Rejects versions the manifest has never
    * seen (an orphan half-publish directory is not servable). */
  def versionPath(s: SparkSession, root: String, kind: String,
      version: Long): String = {
    val known = retryFnf(manifest(s, root, kind)
      .filter(col("version") === version).limit(1).count()) > 0
    require(known, s"version $version of $kind is not manifest-visible under $root")
    versionDir(root, kind, version)
  }

  private val PinDir = "_pin"

  /** Flip the CURRENT PIN of `kind` to a manifest-visible version —
    * the deployment primitive behind upgrade (pin the new generation)
    * and rollback (re-pin an old one). The pin is an APPEND-ONLY log
    * of (version, seq) rows, current = highest seq: appending is
    * atomic for readers in a way an overwritten one-row file is not (a
    * reader never observes a half-flipped pin, only the previous one),
    * and the log doubles as the pin HISTORY an audit reads. KB-sized
    * forever (rows = flips, never data-sized). Single-operator per
    * (root, kind) by the same contract as [[publish]]. */
  def setPin(s: SparkSession, root: String, kind: String, version: Long): Unit = {
    val known = retryFnf(manifest(s, root, kind)
      .filter(col("version") === version).limit(1).count()) > 0
    require(known, s"cannot pin $kind v$version under $root: not manifest-visible")
    val seq = pinLog(s, root, kind, dedup = false) // max(seq) is duplicate-safe
      .agg(max(col("seq"))).collect()(0) match {
      case r if r.isNullAt(0) => 1L
      case r => r.getLong(0) + 1L
    }
    import s.implicits._
    Seq((version, seq)).toDF("version", "seq")
      .coalesce(1).write.mode("append").parquet(s"$root/$kind/$PinDir")
    // keep the log's FILE count bounded: a rotating serve re-reads the
    // log every micro-batch, so without compaction a long-lived stream
    // pays O(total flips) file opens per batch forever
    if (pinLogFiles(s, root, kind).length > PinCompactThreshold)
      compactPinLog(s, root, kind)
  }

  /** One flip = one appended file; compaction folds them periodically. */
  private val PinCompactThreshold = 16

  private def pinLogFiles(s: SparkSession, root: String, kind: String)
      : Array[org.apache.hadoop.fs.FileStatus] =
    dataFiles(s, s"$root/$kind/$PinDir")

  /** Compact the pin log: rewrite the full flip history into ONE file
    * and delete the per-flip files it replaces. Reader-safe with ZERO
    * coordination on log CONTENT: the compacted file lands FIRST (as
    * another append — a reader racing the compaction sees duplicate
    * rows, which cannot change the max-seq row [[currentPin]]
    * resolves), the replaced files are deleted after; [[pinLog]]
    * dedupes on seq so even a crash between the two steps only leaves
    * harmless duplicates. History is preserved in full — compaction
    * changes the log's FILE layout, never its rows. Runs under
    * [[setPin]]'s single-operator contract, so no flip can land
    * between the listing and the deletes.
    *
    * One transient window remains at the FILE level: a reader that
    * lists the directory before the compacted file lands but executes
    * its scan after the old files are deleted sees a
    * FileNotFoundException for a file the listing promised. That is a
    * failed read, never a wrong pin — and [[currentPin]] absorbs it by
    * re-resolving (a fresh listing) once before surfacing the error,
    * so a rotating serve's per-batch pin resolution rides through a
    * concurrent compaction. */
  def compactPinLog(s: SparkSession, root: String, kind: String): Unit = {
    val old = pinLogFiles(s, root, kind)
    if (old.length <= 1) return
    val rows = s.read.parquet(old.map(_.getPath.toString).toIndexedSeq: _*)
    // the dedup=false read contract ([[pinLog]]) holds only while
    // duplicate seq rows are byte-identical (the compaction-crash
    // window re-appends the SAME row, never two versions at one seq).
    // Assert it in the one maintenance pass that already reads every
    // row, so a future writer bug surfaces as a loud failure here
    // instead of a silently nondeterministic currentPin/setPin/q197.
    val bad = rows.groupBy(col("seq"))
      .agg(countDistinct(col("version")).as("nv"))
      .filter(col("nv") > 1L).count()
    require(bad == 0L,
      s"pin log '$kind' violates the append-once invariant: " +
        s"$bad seq value(s) carry conflicting versions")
    rows.coalesce(1).write.mode("append").parquet(s"$root/$kind/$PinDir")
    val (f, _) = fs(s, s"$root/$kind/$PinDir")
    old.foreach(st => f.delete(st.getPath, false))
  }

  /** The pin log's fixed schema — see [[ManifestSchema]]'s rationale. */
  private val PinSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))

  /** The pin log of `kind` (version, seq), empty frame if never pinned.
    * Deduped on seq: a compaction crash can leave a flip row present
    * both compacted and raw — same row either way. Consumers whose
    * aggregation is itself duplicate-safe (max/max_by/limit-1 on seq —
    * a duplicate carries identical values, so the resolved row cannot
    * change) pass `dedup = false` and skip the per-read dedup
    * exchange; row-level history readers keep the default. */
  def pinLog(s: SparkSession, root: String, kind: String): DataFrame =
    pinLog(s, root, kind, dedup = true)

  def pinLog(s: SparkSession, root: String, kind: String, dedup: Boolean): DataFrame = {
    val path = s"$root/$kind/$PinDir"
    if (exists(s, path)) {
      val raw = s.read.schema(PinSchema).parquet(path)
      if (dedup) raw.dropDuplicates("seq") else raw
    } else s.range(0).select(col("id").as("version"), col("id").as("seq"))
  }

  /** The currently pinned version of `kind`, if any — the version at
    * the pin log's highest seq. A serving path that re-resolves this
    * per batch picks up a flip WITHOUT restart (see
    * [[graft.streaming.Streaming.nbServeStreamRotating]]). Retries
    * ONCE on a FileNotFoundException anywhere in the failure chain:
    * a read racing [[compactPinLog]]'s append-then-delete can list a
    * per-flip file the delete step removes before the scan runs
    * (transient by construction — the re-resolve lists the compacted
    * file, which holds every row the deleted ones did). */
  def currentPin(s: SparkSession, root: String, kind: String): Option[Long] = {
    def resolve(): Option[Long] = // top-1 by seq is duplicate-safe
      pinLog(s, root, kind, dedup = false).orderBy(col("seq").desc).limit(1)
        .collect().headOption.map(_.getLong(0))
    try resolve() catch {
      case e: Throwable if isFileNotFound(e) => resolve()
    }
  }

  /** Walk the cause chain for a FileNotFoundException (Spark wraps
    * task failures in SparkException layers). */
  private def isFileNotFound(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 16) {
      if (t.isInstanceOf[java.io.FileNotFoundException]) return true
      t = t.getCause
      depth += 1
    }
    false
  }

  /** Administrative garbage collection: delete the part directories of
    * every published version of `kind` BELOW `keepFrom` (the oldest
    * version any reader still pins — the deployment's pin floor).
    * Returns the versions whose storage was removed. Deliberately NOT
    * part of any serve path: the manifest keeps its rows as publish
    * history (append-only stays append-only, `latestVersion` is
    * unaffected), and a read of a collected version fails the
    * existence check with a clear error instead of scanning half a
    * tree. Orphan directories of crashed publishes below the floor are
    * swept too. Refuses a floor above the latest manifest-visible
    * version: that typo would delete every generation including the
    * only serveable one while the manifest kept advertising it. */
  def gc(s: SparkSession, root: String, kind: String, keepFrom: Long): Seq[Long] = {
    require(keepFrom >= 1, "keepFrom is a version number (>= 1)")
    val latest = latestVersion(s, root, kind)
    require(latest == 0L || keepFrom <= latest,
      s"gc floor $keepFrom is above the latest published version $latest " +
        s"of $kind — refusing to delete the only serveable generation")
    val pinned = currentPin(s, root, kind)
    require(pinned.forall(_ >= keepFrom),
      s"gc floor $keepFrom would delete the currently pinned version " +
        s"${pinned.getOrElse(-1L)} of $kind — re-pin before collecting")
    val (f, p) = fs(s, s"$root/$kind")
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .filter(_ < keepFrom).toSeq.sorted
      .map { v =>
        val (vf, vp) = fs(s, versionDir(root, kind, v))
        vf.delete(vp, true)
        v
      }
  }

  /** Convenience: publish an IVF-PQ index tuple (the
    * [[VectorIndexStore]] part layout) as one registry generation. */
  def publishIvfPq(s: SparkSession, root: String, kind: String,
      corpusFp: Long,
      index: (DataFrame, DataFrame, DataFrame, DataFrame)): Long = {
    val (coarse, asg, books, enc) = index
    publish(s, root, kind, corpusFp,
      Seq("coarse" -> coarse, "asg" -> asg, "books" -> books, "enc" -> enc))
  }

  /** Read a PINNED IVF-PQ generation as the four-frame index tuple. */
  def readIvfPq(s: SparkSession, root: String, kind: String, version: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    (read(s, root, kind, version, "coarse"), read(s, root, kind, version, "asg"),
      read(s, root, kind, version, "books"), read(s, root, kind, version, "enc"))
}
