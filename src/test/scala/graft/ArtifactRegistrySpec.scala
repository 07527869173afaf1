package graft

import graft.ext.ArtifactRegistry
import org.apache.spark.sql.functions._

/** The versioned registry's contract: write-once generations, manifest
  * as the only reader-visible authority, and — the point of the whole
  * design — a PINNED reader that a concurrent newer publish cannot
  * perturb. */
class ArtifactRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-index/" +
      s"spec-${java.util.UUID.randomUUID.toString.take(8)}"

  test("publish/read round trip with a KB-sized manifest") {
    val root = freshRoot()
    val w = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val b = Seq((1L, "x")).toDF("id", "tag")
    val v = ArtifactRegistry.publish(spark, root, "model", corpusFp = 42L,
      Seq("weights" -> w, "globals" -> b))
    assert(v == 1L)
    assert(ArtifactRegistry.latestVersion(spark, root, "model") == 1L)
    val wBack = ArtifactRegistry.read(spark, root, "model", 1L, "weights")
    assert(wBack.except(w).isEmpty && w.except(wBack).isEmpty)
    val m = ArtifactRegistry.manifest(spark, root, "model")
      .select($"version", $"part", $"corpus_fp", $"n_rows")
      .as[(Long, String, Long, Long)].collect().sortBy(_._2)
    assert(m.toSeq == Seq((1L, "globals", 42L, 1L), (1L, "weights", 42L, 2L)))
  }

  test("publishStaged derives parts from the LANDED primaries, in one generation") {
    val root = freshRoot()
    val w = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
    val v = ArtifactRegistry.publishStaged(spark, root, "model", corpusFp = 7L,
      Seq("weights" -> w),
      landed => Seq("summary" -> landed("weights").agg(
        count(lit(1)).as("n"), sum($"v").as("total"))))
    assert(v == 1L)
    // derived part is manifest-visible in the SAME generation
    val m = ArtifactRegistry.manifest(spark, root, "model")
      .select($"version", $"part", $"n_rows")
      .as[(Long, String, Long)].collect().sortBy(_._2)
    assert(m.toSeq == Seq((1L, "summary", 1L), (1L, "weights", 3L)))
    val s = ArtifactRegistry.read(spark, root, "model", 1L, "summary")
      .as[(Long, Long)].collect().toSeq
    assert(s == Seq((3L, 60L)))
    // a derived part may not shadow a primary part
    intercept[IllegalArgumentException] {
      ArtifactRegistry.publishStaged(spark, root, "model", 8L,
        Seq("weights" -> w), landed => Seq("weights" -> landed("weights")))
    }
  }

  test("a pinned reader is not perturbed by a concurrent newer publish") {
    val root = freshRoot()
    val gen1 = Seq((1L, 100L), (2L, 200L)).toDF("id", "v")
    ArtifactRegistry.publish(spark, root, "model", 1L, Seq("weights" -> gen1))
    // the reader pins generation 1 and starts serving
    val pinned = ArtifactRegistry.read(spark, root, "model", 1L, "weights")
    val before = pinned.orderBy($"id").as[(Long, Long)].collect().toSeq
    // ... while the publisher lands generation 2 with DIFFERENT content
    val gen2 = Seq((1L, -1L), (2L, -2L), (3L, -3L)).toDF("id", "v")
    val v2 = ArtifactRegistry.publish(spark, root, "model", 2L, Seq("weights" -> gen2))
    assert(v2 == 2L)
    assert(ArtifactRegistry.latestVersion(spark, root, "model") == 2L)
    // the pinned frame re-executes against the SAME immutable files
    val after = pinned.orderBy($"id").as[(Long, Long)].collect().toSeq
    assert(after == before, "newer publish perturbed the pinned generation")
    assert(after == Seq((1L, 100L), (2L, 200L)))
    // an unpinned reader that resolves latest sees the upgrade
    val latest = ArtifactRegistry.read(spark, root, "model", v2, "weights")
    assert(latest.count() == 3L)
  }

  test("a crashed half-publish is invisible to readers and skipped by the publisher") {
    val root = freshRoot()
    ArtifactRegistry.publish(spark, root, "model", 1L,
      Seq("weights" -> Seq((1L, 1L)).toDF("id", "v")))
    // simulate a publisher crash: version directory landed, manifest
    // rows never did
    Seq((9L, 9L)).toDF("id", "v").write
      .parquet(s"$root/model/v000002/weights")
    assert(ArtifactRegistry.latestVersion(spark, root, "model") == 1L,
      "orphan directory leaked into the reader-visible version set")
    intercept[IllegalArgumentException] {
      ArtifactRegistry.read(spark, root, "model", 3L, "weights")
    }
    // the next publish numbers PAST the orphan instead of colliding
    val v = ArtifactRegistry.publish(spark, root, "model", 3L,
      Seq("weights" -> Seq((2L, 2L)).toDF("id", "v")))
    assert(v == 3L)
    assert(ArtifactRegistry.latestVersion(spark, root, "model") == 3L)
  }

  test("gc removes storage below the pin floor, keeps history and the floor itself") {
    val root = freshRoot()
    (1 to 3).foreach { i =>
      ArtifactRegistry.publish(spark, root, "model", i.toLong,
        Seq("weights" -> Seq((i.toLong, i.toLong)).toDF("id", "v")))
    }
    // an orphan half-publish below the floor is swept with the rest
    Seq((0L, 0L)).toDF("id", "v").write.parquet(s"$root/model/v000000/weights")
    val removed = ArtifactRegistry.gc(spark, root, "model", keepFrom = 3L)
    assert(removed == Seq(0L, 1L, 2L))
    // the floor serves; collected versions fail fast; history intact
    assert(ArtifactRegistry.read(spark, root, "model", 3L, "weights").count() == 1L)
    intercept[IllegalArgumentException] {
      ArtifactRegistry.read(spark, root, "model", 2L, "weights")
    }
    assert(ArtifactRegistry.latestVersion(spark, root, "model") == 3L)
    assert(ArtifactRegistry.manifest(spark, root, "model")
      .select($"version").distinct().count() == 3L)
    // the next publish still numbers past everything ever seen
    assert(ArtifactRegistry.publish(spark, root, "model", 4L,
      Seq("weights" -> Seq((4L, 4L)).toDF("id", "v"))) == 4L)
  }

  test("publish certifies landed rows from parquet footers, never a re-scan") {
    val root = freshRoot()
    val w = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 2 AS v")
    ArtifactRegistry.publish(spark, root, "model", 7L, Seq("weights" -> w))
    // the manifest certifies exactly what storage holds
    val m = ArtifactRegistry.manifest(spark, root, "model")
      .select($"n_rows").as[Long].collect()
    assert(m.toSeq == Seq(1000L))
    // and certifying runs NO Spark job at all — the count is footer
    // metadata, so a corpus-sized part is never read back after write
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = ArtifactRegistry.countLandedRows(spark, s"$root/model/v000001/weights")
      assert(n == 1000L)
      org.apache.spark.GraftTestShim.waitListeners(spark.sparkContext)
      assert(jobs == 0, s"footer count launched $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("gc refuses a floor above the latest published version") {
    val root = freshRoot()
    ArtifactRegistry.publish(spark, root, "model", 1L,
      Seq("weights" -> Seq((1L, 1L)).toDF("id", "v")))
    // a typo'd floor would delete the ONLY serveable generation while
    // the manifest kept advertising it — refused, storage untouched
    intercept[IllegalArgumentException] {
      ArtifactRegistry.gc(spark, root, "model", keepFrom = 5L)
    }
    assert(ArtifactRegistry.read(spark, root, "model", 1L, "weights").count() == 1L)
    // the latest version itself is a legal floor (deletes nothing here)
    assert(ArtifactRegistry.gc(spark, root, "model", keepFrom = 1L).isEmpty)
  }

  test("pins: append-only log, current = last flip, gc respects the pin") {
    val root = freshRoot()
    (1 to 3).foreach { i =>
      ArtifactRegistry.publish(spark, root, "model", i.toLong,
        Seq("weights" -> Seq((i.toLong, i.toLong)).toDF("id", "v")))
    }
    assert(ArtifactRegistry.currentPin(spark, root, "model").isEmpty)
    // a pin must point at a manifest-visible version
    intercept[IllegalArgumentException] {
      ArtifactRegistry.setPin(spark, root, "model", 9L)
    }
    ArtifactRegistry.setPin(spark, root, "model", 2L)
    assert(ArtifactRegistry.currentPin(spark, root, "model").contains(2L))
    // rollback is another append — history stays readable
    ArtifactRegistry.setPin(spark, root, "model", 1L)
    assert(ArtifactRegistry.currentPin(spark, root, "model").contains(1L))
    assert(ArtifactRegistry.pinLog(spark, root, "model")
      .orderBy($"seq").select($"version").as[Long].collect().toSeq == Seq(2L, 1L))
    // gc cannot delete the generation the pin still points at
    intercept[IllegalArgumentException] {
      ArtifactRegistry.gc(spark, root, "model", keepFrom = 2L)
    }
    ArtifactRegistry.setPin(spark, root, "model", 3L)
    assert(ArtifactRegistry.gc(spark, root, "model", keepFrom = 3L) == Seq(1L, 2L))
    assert(ArtifactRegistry.read(spark, root, "model", 3L, "weights").count() == 1L)
  }

  test("pin-log compaction bounds file count; history and current pin survive") {
    val root = freshRoot()
    (1 to 2).foreach { i =>
      ArtifactRegistry.publish(spark, root, "model", i.toLong,
        Seq("weights" -> Seq((i.toLong, i.toLong)).toDF("id", "v")))
    }
    def logFiles(): Int = {
      val dir = new java.io.File(s"$root/model/_pin")
      if (!dir.isDirectory) 0
      else dir.listFiles.count(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    // 40 flips: without compaction the log would be 40 files — a
    // rotating serve would pay 40 file opens per micro-batch, growing
    // with every flip forever; auto-compaction keeps it bounded
    (1 to 40).foreach(i => ArtifactRegistry.setPin(spark, root, "model",
      (i % 2 + 1).toLong))
    assert(logFiles() <= 17, s"pin log grew unbounded: ${logFiles()} files")
    // nothing was lost: full flip history, exact seqs, current = last
    val log = ArtifactRegistry.pinLog(spark, root, "model")
      .orderBy($"seq").as[(Long, Long)].collect().toSeq
    assert(log.map(_._2) == (1L to 40L))
    assert(log.map(_._1) == (1 to 40).map(i => (i % 2 + 1).toLong))
    assert(ArtifactRegistry.currentPin(spark, root, "model").contains(1L))
    // explicit compaction folds to ONE file; history still intact
    ArtifactRegistry.compactPinLog(spark, root, "model")
    assert(logFiles() == 1)
    assert(ArtifactRegistry.pinLog(spark, root, "model").count() == 40L)
    assert(ArtifactRegistry.currentPin(spark, root, "model").contains(1L))
  }

  test("every persisted artifact family versions through the registry") {
    // q197 forces the seven audited kinds; the other three families'
    // serving queries force theirs
    SparkEntry.queries("q197_registry_audit")(spark, sf).collect()
    SparkEntry.queries("q173_persisted_lsh_probe")(spark, sf).count()
    SparkEntry.queries("q185_persisted_bpe_apply")(spark, sf).count()
    SparkEntry.queries("q176_persisted_calib_serve")(spark, sf).count()
    val root = graft.queries.RegistryRoots.root(spark, sf)
    val expect = Map(
      "ivfpq" -> Set("coarse", "asg", "books", "enc"),
      "epoch_loader" -> Set("schedule", "manifest"),
      "purchase_graph" -> Set("edges", "vertices", "deg"),
      "nb_model" -> Set("weights", "globals"),
      "bm25_index" -> Set("tf", "dl", "dfreq", "globals"),
      "dupgram_dict" -> Set("dict"),
      "dupgram_counts" -> Set("counts"),
      "lsh_index" -> Set("bands"),
      "bpe_tokenizer" -> Set("merges", "dict"),
      "calib_registry" -> Set("lm", "calib"),
      "enrich_ckpt" -> Set("results", "cursor"))
    expect.foreach { case (kind, parts) =>
      val m = ArtifactRegistry.manifest(spark, root, kind)
        .select($"part").distinct().as[String].collect().toSet
      assert(m == parts, s"$kind published parts $m, expected $parts")
    }
    // the incremental dictionary is the second kind with two live
    // generations (after the ivfpq upgrade)
    assert(ArtifactRegistry.latestVersion(spark, root, "dupgram_counts") == 2L)
  }

  test("a cache clear republishes into a FRESH root — pinned versions stay 1/2") {
    // the round-14 medium-advice scenario, end to end: the registry
    // root is scoped per publish-cache generation (RegistryRoots), so
    // dropping the caches mid-session must NOT shift version numbers
    // under the gated oracles — before the fix this second run read
    // pinned=3/latest=4 from a republish into the stale root
    def versions(): Seq[(Long, Long)] =
      SparkEntry.queries("q194_registry_pinned_serve")(spark, sf)
        .select($"pinned_version", $"latest_version").distinct()
        .as[(Long, Long)].collect().toSeq
    assert(versions() == Seq((1L, 2L)))
    graft.queries.SessionArtifacts.clear() // engine-wide cold caches
    assert(versions() == Seq((1L, 2L)),
      "a republish after a cache clear shifted registry versions — " +
        "the root did not rotate with the publish-cache generation")
  }

  test("q196 serves the purchase graph from its registry generation") {
    val rows = SparkEntry.queries("q196_graph_registry_serve")(spark, sf).collect()
    assert(rows.length == 20)
    // every served node carries a real out-degree from the loaded part
    assert(rows.forall(_.getLong(2) > 0))
    // the registry holds all three graph parts, and the degree part is
    // one row per edge (degree-annotated edges, not a degree table)
    val root = graft.queries.RegistryRoots.root(spark, sf)
    val m = ArtifactRegistry.manifest(spark, root, "purchase_graph")
      .select($"part", $"n_rows").as[(String, Long)].collect().toMap
    assert(m.keySet == Set("edges", "vertices", "deg"))
    assert(m("edges") == m("deg"))
    assert(m("vertices") < m("edges"))
  }

  test("q194 serves the pinned generation while the upgrade coexists") {
    val df = SparkEntry.queries("q194_registry_pinned_serve")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // generation 1 pinned, generation 2 (the arrivals-added upgrade)
    // already on storage when the probe ran
    assert(rows.forall(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    // the registry recorded both generations of every index part, and
    // the upgrade's asg part grew by exactly the arrival batch
    val root = graft.queries.RegistryRoots.root(spark, sf)
    val m = ArtifactRegistry.manifest(spark, root, "ivfpq")
      .select($"version", $"part", $"n_rows")
      .as[(Long, String, Long)].collect()
    assert(m.map(_._1).toSet == Set(1L, 2L))
    assert(m.filter(_._1 == 1L).map(_._2).toSet ==
      Set("coarse", "asg", "books", "enc"))
    val asg = m.filter(_._2 == "asg").map(t => t._1 -> t._3).toMap
    val nArrivals = Tables.load(spark, sf, "embeddings")
      .filter($"vec_id" % 10 === 0).count()
    assert(asg(2L) == asg(1L) + nArrivals,
      "generation 2's asg is not generation 1 plus the arrival batch")
  }

  test("rename audit: the registry's own protocol is rename-free end to end") {
    // the object-store contract, validated mechanically (no S3 endpoint
    // exists in this environment — see RenameAuditFs): run the FULL
    // lifecycle publish → pin → serve-read → re-publish → re-pin →
    // pin-log compaction → gc through a rename-recording FS, then
    // assert every rename on the wire was the parquet COMMITTER's, each
    // strictly inside the one directory being written. The registry's
    // own steps — manifest append, pin append, compaction's
    // append-then-delete, gc's deletes — contribute ZERO renames, so
    // cross-file atomicity really does come from ordering alone and the
    // committer is the only piece a rename-less store needs to swap.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.audit.impl", classOf[RenameAuditFs].getName)
    RenameAuditFs.reset()
    val root = "audit:" + freshRoot()
    val v1 = ArtifactRegistry.publish(spark, root, "m", 1L,
      Seq("part" -> (1L to 12L).toDF("x").repartition(3)))
    ArtifactRegistry.setPin(spark, root, "m", v1)
    assert(ArtifactRegistry.read(spark, root, "m", v1, "part").count() == 12L)
    assert(ArtifactRegistry.readAudited(spark, root, "m", v1, "part").count() == 12L)
    val v2 = ArtifactRegistry.publish(spark, root, "m", 2L,
      Seq("part" -> (1L to 6L).toDF("x")))
    ArtifactRegistry.setPin(spark, root, "m", v2)
    ArtifactRegistry.compactPinLog(spark, root, "m")
    assert(ArtifactRegistry.currentPin(spark, root, "m").contains(v2))
    assert(ArtifactRegistry.gc(spark, root, "m", keepFrom = v2) == Seq(v1))
    val renames = RenameAuditFs.snapshot()
    assert(renames.nonEmpty, "the default committer renames — audit must see them")
    renames.foreach { case (src, dst) =>
      val t = src.indexOf("/_temporary/")
      assert(t > 0,
        s"rename NOT committer-internal (src outside _temporary): $src -> $dst")
      assert(dst.startsWith(src.substring(0, t + 1)),
        s"rename crosses its write directory: $src -> $dst")
    }
    // and none of the registry's own structures were renamed into place
    renames.foreach { case (src, _) =>
      assert(src.contains("/_temporary/"),
        s"registry-owned path renamed: $src")
    }
  }

  test("eventually-listing store: pin retry absorbs the compaction race; readAudited refuses a stale part") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.stale.impl", classOf[StaleListingFs].getName)
    StaleListingFs.reset()
    val root = "stale:" + freshRoot()
    val pinDir = new org.apache.hadoop.fs.Path(s"$root/m/_pin")
    val fs = pinDir.getFileSystem(conf)
    try {
      // a part spread over several files (the shape a stale listing
      // can silently truncate) + a few pin flips
      val v1 = ArtifactRegistry.publish(spark, root, "m", 7L,
        Seq("part" -> (1L to 12L).toDF("x").repartition(3)))
      ArtifactRegistry.setPin(spark, root, "m", v1)
      ArtifactRegistry.setPin(spark, root, "m", v1)
      ArtifactRegistry.setPin(spark, root, "m", v1)
      // COMPACTION RACE: capture the pre-compaction listing, compact
      // (append the folded file, DELETE the per-flip files), then
      // serve the captured listing to the next reader — it promises
      // files that no longer exist, the exact transient window a
      // rotating serve can hit
      val before = fs.listStatus(pinDir)
      ArtifactRegistry.compactPinLog(spark, root, "m")
      def dataNames(sts: Array[org.apache.hadoop.fs.FileStatus]): Set[String] =
        sts.map(_.getPath.getName).filter(n => n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")).toSet
      assert(dataNames(fs.listStatus(pinDir))
          .intersect(dataNames(before)).isEmpty,
        "compaction must have replaced every captured file for the race to be real")
      StaleListingFs.staleSnapshot.set((pinDir.toUri.getPath, before))
      // one resolve fails on the phantom files, the retry lists fresh
      assert(ArtifactRegistry.currentPin(spark, root, "m").contains(v1))
      assert(StaleListingFs.staleSnapshot.get() == null, "stale view was consumed")
      // PARTIAL-PART RACE: the part directory's listing omits one data
      // file (a write the store has not surfaced yet). The unaudited
      // lazy read silently truncates — the hazard —
      val partDir = new org.apache.hadoop.fs.Path(s"$root/m/v%06d/part".format(v1))
      val dataFiles = fs.listStatus(partDir).map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      assert(dataFiles.length == 3)
      StaleListingFs.hiddenOnce.set((partDir.toUri.getPath, Set(dataFiles.head)))
      assert(ArtifactRegistry.read(spark, root, "m", v1, "part").count() < 12L,
        "an unaudited read against a stale listing silently under-reads (the documented hazard)")
      // — while readAudited compares the listing's footer rows to the
      // manifest's certified count and REFUSES
      StaleListingFs.hiddenOnce.set((partDir.toUri.getPath, Set(dataFiles.head)))
      val e = intercept[IllegalArgumentException] {
        ArtifactRegistry.readAudited(spark, root, "m", v1, "part")
      }
      assert(e.getMessage.contains("listing is stale"))
      // converged listing: the audit passes and the part is complete
      assert(ArtifactRegistry.readAudited(spark, root, "m", v1, "part").count() == 12L)
    } finally StaleListingFs.reset()
  }
}
