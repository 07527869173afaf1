package graft

import graft.ext.{HeavyHitters, Hll, KMeansInt, PassageDedup, Quantize}
import org.apache.spark.sql.functions._

/** Specs for the sketch/training operators: integer k-means, HLL
  * distinct registers, passage dedup, Misra-Gries heavy hitters. */
class SketchOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- k-means ----------------------------------------------------

  test("kmeans separates two integer poles and is deterministic") {
    // farthest-first seeding puts one seed per pole (labels are pick
    // order, so which pole is cluster 0 depends on the hash sample):
    // every low point must share a label, every high point the other
    val codes = Seq(
      (0L, Array(0L, 0L, 0L)), (1L, Array(100L, 100L, 100L)),
      (2L, Array(3L, 1L, 2L)), (3L, Array(98L, 99L, 97L)),
      (4L, Array(1L, 2L, 1L)), (5L, Array(101L, 99L, 100L)))
      .toDF("id", "codes")
    val out = KMeansInt.fitConvergedAssign(codes, k = 2, maxRounds = 16)
      .assignment
      .select($"id", $"cluster").as[(Long, Long)].collect().toMap
    assert(Seq(0L, 2L, 4L).map(out).distinct.size == 1, "low pole splits")
    assert(Seq(1L, 3L, 5L).map(out).distinct.size == 1, "high pole splits")
    assert(out(0L) != out(1L), "poles must land in different clusters")
    val out2 = KMeansInt.fitConvergedAssign(codes, k = 2, maxRounds = 16)
      .assignment
      .select($"id", $"cluster").as[(Long, Long)].collect().toMap
    assert(out === out2, "integer k-means must be bit-deterministic")
  }

  test("kmeans converges within the oracle unroll and exactly re-runs at that depth") {
    val codes = Quantize.sq8Codes(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding")
      .localCheckpoint(true)
    val fit = KMeansInt.fitConvergedAssign(codes, k = 8,
      maxRounds = KMeansInt.MaxRounds)
    // the oracle unrolls exactly MaxRounds Lloyd rounds, so any run the
    // engine completes (rounds <= MaxRounds) is covered by the replay
    assert(fit.rounds <= KMeansInt.MaxRounds,
      s"converged in ${fit.rounds} > MaxRounds=${KMeansInt.MaxRounds}")
    // a rerun capped at exactly the observed depth converges to the
    // same result — the stop is data-driven, not budget-dependent
    val again = KMeansInt.fitConvergedAssign(codes, k = 8,
      maxRounds = fit.rounds)
    assert(again.rounds == fit.rounds)
    assert(again.assignment.except(fit.assignment).isEmpty &&
      fit.assignment.except(again.assignment).isEmpty)
  }

  test("kmeans throws past maxRounds instead of truncating training") {
    val codes = Quantize.sq8Codes(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding")
      .localCheckpoint(true)
    intercept[IllegalStateException] {
      KMeansInt.fitConvergedAssign(codes, k = 8, maxRounds = 1)
    }
  }

  test("kmeans literal-argmin assignment matches the exploded-join form") {
    // the converged centroids + assignment must be mutually consistent
    // under the INDEPENDENT broadcast-join assignment path (the PQ
    // encodeWith/search formulation) — pins the two argmin
    // implementations (fold over literal centroids vs join + window)
    // to the same values and tie-breaks
    val codes = Quantize.sq8Codes(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding")
      .localCheckpoint(true)
    val fit = KMeansInt.fitConvergedAssign(codes, k = 8,
      maxRounds = KMeansInt.MaxRounds)
    val viaJoin = KMeansInt.assign(KMeansInt.explodedCodes(codes), fit.centroids)
    assert(viaJoin.except(fit.assignment).isEmpty &&
      fit.assignment.except(viaJoin).isEmpty,
      "both assignment forms must be value-identical")
  }

  test("q164 IVF-PQ recall vs the full-probe ranking is monotone in nProbe") {
    // theorem-backed: the probed candidate set only grows with nProbe,
    // and any full-probe top-10 member inside a candidate set must rank
    // in that set's top-10 — so recall_full_ppm can never decrease, and
    // at nProbe = K (full probe) every returned row is a truth row
    val rows = graft.queries.SketchQueries.q164IvfPqRecall(spark, sf)
      .select($"n_probe", $"qid", $"n_hits_full", $"recall_full_ppm",
        $"recall_exact_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byQid = rows.groupBy(_._2)
    byQid.foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._1)
      val recalls = sorted.map(_._4)
      assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
        s"qid=$qid recall_full not monotone: ${sorted.map(r => r._1 -> r._4).toSeq}")
      // the sweep covers the full probe range, so the last point is
      // nProbe = K, where the ranking IS the truth: 10/10 by
      // construction (the corpus exceeds 11 vectors at every sf)
      val last = sorted.last
      assert(last._1 == graft.ext.ProductQuantize.K.toLong)
      assert(last._3 == 10L && last._4 == 1000000L,
        s"qid=$qid full-probe recall must be exactly 10/10, got $last")
    }
    // the widened deterministic hash-rank workload: exactly 32 queries
    assert(byQid.size == 32, s"expected 32 query vectors, got ${byQid.size}")
  }

  test("vector cache: every entry point populates a FRESH cache") {
    // regression surface of the nested-computeIfAbsent bug (round 11):
    // sharedFullFit/sharedSubFits/sharedIvfPqIndex each read other
    // artifacts from inside their build; populating the chain from ANY
    // starting point on an empty store must never throw (the former
    // shape died with IllegalStateException "Recursive update" whenever
    // two keys collided into one hash bin). Building the DataFrame is
    // enough — the artifacts build at plan-construction time.
    val entryPoints: Seq[(String, () => Any)] = Seq(
      "q77_fullfit" -> (() => graft.queries.SketchQueries.q77Kmeans(spark, sf)),
      "q107_subfits" -> (() => graft.queries.SketchQueries.q107Pq(spark, sf)),
      "q110_ivfpq" -> (() => graft.queries.SketchQueries.q110IvfPq(spark, sf)),
      "q164_recall" -> (() => graft.queries.SketchQueries.q164IvfPqRecall(spark, sf)))
    entryPoints.foreach { case (name, build) =>
      graft.queries.SessionArtifacts.clear()
      try build()
      catch {
        case e: IllegalStateException =>
          fail(s"entry point $name hit a cache self-update: ${e.getMessage}")
      }
    }
  }

  test("kmeans runs one Spark job per Lloyd round") {
    val codes = Quantize.sq8Codes(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding")
      .localCheckpoint(true)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val fit = try {
      val f = KMeansInt.fitConvergedAssign(codes, k = 8,
        maxRounds = KMeansInt.MaxRounds)
      org.apache.spark.GraftTestShim.waitListeners(spark.sparkContext)
      f
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(fit.rounds >= 2, s"too shallow to tell rounds from fixed cost: ${fit.rounds}")
    // one job per round, plus the codes checkpoint, the seed-sample
    // collect and the round that confirms the fixed point; the
    // assignment is served from the final state without a job
    assert(jobs <= fit.rounds + 3, s"$jobs jobs for ${fit.rounds} rounds")
  }

  test("kmeans keeps previous centroid for emptied clusters") {
    // seed 1 = (9,9) attracts nothing once points re-assign to seed
    // 0's updated mean; k stays 2 and assignment still totals all rows
    val codes = Seq(
      (0L, Array(0L, 0L)), (1L, Array(9L, 9L)),
      (2L, Array(1L, 1L)), (3L, Array(0L, 1L)), (4L, Array(2L, 0L)))
      .toDF("id", "codes")
    val out = KMeansInt.fitConvergedAssign(codes, k = 2, maxRounds = 16)
      .assignment
    assert(out.count() == 5, "every point assigned even if a cluster empties")
  }

  // ---- HLL --------------------------------------------------------

  test("hll estimate lands within expected error of the exact count") {
    // sf0.001 has ~200 distinct partkeys over m=256 — the small-range
    // regime where raw HLL is biased and linear counting is mandatory
    val (m, nZero, est, exact) = graft.queries.SketchQueries.q78Hll(spark, sf)
      .select($"m", $"n_zero", $"est_raw", $"n_exact")
      .as[(Long, Long, Double, Long)].head()
    val corrected = Hll.corrected(m, nZero, est)
    // 1.04/sqrt(256) = 6.5% standard error; allow 4 sigma
    assert(math.abs(corrected - exact) / exact < 0.26,
      s"estimate $corrected (raw $est) too far from exact $exact")
  }

  test("grouped sliding HLL: per-type registers max-merge to the global window sketch") {
    // the q141 scaladoc's rollup claim, pinned: max-merging the
    // per-event-type register vectors of each time bucket reproduces
    // q114's global per-bucket registers exactly
    val ev = Tables.loadEvents(spark, sf)
      .select($"event_type", expr("sec DIV 600").as("grp0"), $"user_id")
      .localCheckpoint(true)
    val byType = Hll.groupRegisters(ev,
        struct($"event_type".as("et"), $"grp0".as("g0")), $"user_id")
      .groupBy($"grp.g0".as("grp"), $"bucket").agg(max($"r").as("r"))
    val global = Hll.groupRegisters(ev, $"grp0", $"user_id")
    assert(byType.except(global).isEmpty && global.except(byType).isEmpty,
      "per-type max-merge must equal the directly-built global registers")
  }

  test("q141c sketch-only form: estimates byte-identical to q141, no exact pass") {
    import graft.queries.MiningQueries
    // q141/q141c core is shared; this pins that it stays shared
    val full = MiningQueries.q141GroupSlidingHll(spark, sf)
      .select($"event_type", $"win", $"m", $"n_zero", $"sum_pow", $"est_raw")
      .collect().map(_.toSeq).toSeq
    val lean = MiningQueries.q141cGroupSlidingHllOnly(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(full == lean)
    // the 100 TB form carries NO exact-distinct aggregate and no
    // event-sized checkpoint (the q134c discipline: assert on the
    // optimized plan TREE, not explain-text substrings)
    val optimized = MiningQueries.q141cGroupSlidingHllOnly(spark, sf)
      .queryExecution.optimizedPlan
    val distinctAggs = optimized.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.aggregateExpressions.exists(_.exists {
            case e: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
              e.isDistinct
            case _ => false
          }) => a
    }
    assert(distinctAggs.isEmpty,
      s"sketch-only sliding-HLL plan runs an exact distinct aggregate:\n$optimized")
    // checkpoints (LogicalRDD) are allowed ONLY for the constant-size
    // register state ((types × buckets) × 256 registers) inside
    // Hll.groupRegisters — an event-sized checkpoint would carry
    // row-level columns, not the sketch schema
    val sketchCols = Set("grp", "bucket", "max_rho")
    val oversized = optimized.collect {
      case p if p.getClass.getSimpleName == "LogicalRDD" &&
        !p.output.map(_.name).forall(sketchCols) => p
    }
    assert(oversized.isEmpty,
      s"sketch-only sliding-HLL plan checkpoints event-sized state:\n$optimized")
  }

  test("hll registers of a union are the elementwise max (mergeability)") {
    val a = spark.range(0, 1000).select($"id".cast("long").as("k"))
    val b = spark.range(500, 1500).select($"id".cast("long").as("k"))
    val ra = Hll.registers(a, $"k").withColumnRenamed("r", "ra")
    val rb = Hll.registers(b, $"k").withColumnRenamed("r", "rb")
    val merged = ra.join(rb, Seq("bucket"))
      .select($"bucket", greatest($"ra", $"rb").as("r"))
    val direct = Hll.registers(a.union(b), $"k")
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty,
      "register merge must equal registers of the union")
  }

  // ---- passage dedup ----------------------------------------------

  test("passage dedup keeps a unique corpus intact and strips copies") {
    val w = 2
    val docs = Seq(
      (0L, "a b c d"),        // unique: all chunks survive
      (1L, "a b x y"),        // chunk "a b" already seen in doc 0 -> dropped
      (2L, "a b c d"))        // full copy of doc 0 -> fully removed
      .toDF("doc_id", "text")
    val out = PassageDedup.dedupRebuild(docs, "doc_id", "text", w)
      .orderBy($"id")
      .select($"id", $"n_chunks", $"n_kept", $"new_len")
      .as[(Long, Long, Long, Long)].collect()
    assert(out(0) === ((0L, 2L, 2L, 7L)))    // "a b c d"
    assert(out(1) === ((1L, 2L, 1L, 3L)))    // "x y"
    assert(out(2) === ((2L, 2L, 0L, 0L)))    // empty
  }

  test("passage dedup keeps exactly one occurrence per distinct chunk") {
    val docs = Tables.load(spark, sf, "documents")
    val out = PassageDedup.dedupRebuild(docs, "doc_id", "text", 10)
    val totalKept = out.agg(sum($"n_kept")).as[Long].head()
    val distinctChunks = PassageDedup.chunked(docs, "doc_id", "text", 10)
      .select($"chunk").distinct().count()
    assert(totalKept === distinctChunks)
    assert(out.filter($"n_kept" > $"n_chunks").isEmpty)
  }

  // ---- grouped top-k ----------------------------------------------

  test("native topk aggregate equals the window formulation per key") {
    import graft.functions.TopKFunctions
    import org.apache.spark.sql.expressions.Window
    // many partitions + duplicate measures: exercises map-side compact,
    // serialization, merge, and deterministic tie-breaks
    val rows = (1 to 500).map(i => (i % 7L, (i * 37 % 50).toLong, i.toLong))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 23)).toDF("k", "m", "id")
    val viaAgg = df
      .select($"k", struct((-$"m").as("nm"), $"id").as("o"))
      .groupBy($"k").agg(TopKFunctions.topK($"o", 5).as("top"))
      .select($"k", posexplode($"top").as(Seq("r0", "t")))
      .select($"k", ($"r0" + 1).cast("long").as("r"), (-$"t.nm").as("m"), $"t.id".as("id"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val w = Window.partitionBy($"k").orderBy($"m".desc, $"id")
    val viaWindow = df.withColumn("r", row_number().over(w).cast("long"))
      .filter($"r" <= 5).select($"k", $"r", $"m", $"id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaAgg === viaWindow)
  }

  test("topk keeps groups smaller than k intact") {
    import graft.functions.TopKFunctions
    val df = Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "m")
    val out = df.select($"k", struct($"m").as("o"))
      .groupBy($"k").agg(TopKFunctions.topK($"o", 5).as("top"))
      .select($"k", size($"top").as("n")).as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 2, 2L -> 1))
  }

  // ---- heavy hitters ----------------------------------------------

  test("misra-gries retains every locally heavy token") {
    val tokens = Seq.fill(60)("hot") ++ (1 to 40).map(i => s"cold$i")
    val cand = HeavyHitters.misraGries(tokens.iterator, k = 10).toSet
    assert(cand.contains("hot"), "token with count > n/k must survive")
    assert(cand.size <= 10)
  }

  test("native mg_candidates aggregate keeps per-group heavy hitters across partial merges") {
    import graft.functions.MgFunctions
    // 40 partitions force many partial-aggregation merges; "hot" is
    // heavy in group a (60 of 100), "warm" heavy in b (30 of 40)
    val rows = (Seq.fill(60)(("a", "hot")) ++ (1 to 40).map(i => ("a", s"cold$i")) ++
      Seq.fill(30)(("b", "warm")) ++ (1 to 10).map(i => ("b", s"rare$i")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(scala.util.Random.shuffle(rows), 40))
      .toDF("g", "token")
    val cand = df.groupBy($"g")
      .agg(MgFunctions.mgCandidates($"token", 8).as("cand"))
      .as[(String, Seq[String])].collect().toMap
    assert(cand("a").contains("hot"), "count 60 > 100/8 must survive group a")
    assert(cand("b").contains("warm"), "count 30 > 40/8 must survive group b")
    assert(cand.values.forall(_.size <= 7), "at most k-1 candidates per group")
  }

  test("mg_candidates serialization roundtrips the sketch buffer") {
    val agg = graft.functions.MisraGriesAgg(
      org.apache.spark.sql.GraftShim.expression($"x"), k = 4)
    val buf = agg.createAggregationBuffer()
    Seq("a", "b", "a", "c", "a").foreach { s =>
      buf.update(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        buf.getOrElse(org.apache.spark.unsafe.types.UTF8String.fromString(s), 0L) + 1)
    }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back === buf)
  }

  test("exact heavy hitters equal the plain group-by") {
    val tokens = Tables.load(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("token"))
    val viaSketch = HeavyHitters.exactHeavy(tokens, k = 64)
      .select($"token", $"cnt").as[(String, Long)].collect().toSet
    val n = tokens.count()
    val plain = tokens.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * 64 > n)
      .as[(String, Long)].collect().toSet
    assert(viaSketch === plain)
  }

  test("count-min estimates dominate true counts; exact when collision-free") {
    import graft.ext.CountMin
    val toks = Tables.load(spark, sf, "documents")
      .filter(length(trim($"text")) > 0)
      .select(explode(graft.functions.TextFunctions.tokens(lower($"text"))).as("term"))
      .filter($"term" =!= "").localCheckpoint(true)
    val sk = CountMin.sketch(toks, $"term")
    val truth = toks.groupBy($"term").agg(count(lit(1)).as("n")).as[(String, Long)]
      .collect().toMap
    val est = CountMin.estimates(sk, toks.select($"term").distinct(), $"term")
      .as[(String, Long)].collect().toMap
    assert(est.keySet === truth.keySet)
    truth.foreach { case (t, n) =>
      assert(est(t) >= n, s"CMS underestimated '$t': ${est(t)} < $n")
    }
    // total cell mass per row == total occurrences (each occurrence
    // increments exactly one cell per row)
    val total = truth.values.sum
    val perRow = sk.groupBy($"row").agg(sum($"cnt").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(perRow.values.forall(_ == total), s"row mass $perRow != $total")
  }

  test("KMV order-statistic estimate tracks true cardinality; under-full is exact") {
    import graft.ext.Hll
    def est(keys: Seq[Long], k: Int): Long = {
      val sk = keys.toDF("k")
        .select(Hll.hash31($"k".cast("string")).as("h")).distinct()
        .orderBy($"h").limit(k)
        .as[Long].collect()
      if (sk.length == k) (k - 1).toLong * 2147483648L / sk.max else sk.length.toLong
    }
    val full = est((1L to 1000L), 64)
    assert(math.abs(full - 1000) < 250, s"KMV estimate $full too far from 1000")
    assert(est((1L to 30L), 64) === 30L, "under-full sketch must be exact")
  }

  test("priority sample: HT weights dominate, priorities clear tau, total tracks") {
    val out = graft.queries.SketchQueries.q128PrioritySample(spark, sf)
      .select($"rank", $"w", $"pri", $"w_hat")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 32)
    out.foreach { case (_, w, _, wh) => assert(wh >= w, "HT weight must dominate w") }
    // every sampled priority is >= the threshold (the 33rd priority),
    // and w_hat = max(w, tau) means all w_hat share a floor
    val floor = out.map(_._4).min
    assert(out.forall(_._4 >= floor))
    // fixed data + fixed hash: the HT total is deterministic; k=32 puts
    // it well within 2x of the true subset sum (measured 0.76x at
    // sf0.01, and this asserts the sf0.001 realization stays sane)
    val est = out.map(_._4).sum
    val true_ = Tables.load(spark, sf, "lineitem")
      .agg(sum($"l_quantity".cast("long"))).head().getLong(0)
    assert(est > true_ / 2 && est < true_ * 2, s"est=$est true=$true_")
  }

  test("count-min sketches merge by cell-wise addition") {
    import graft.ext.CountMin
    val a = Seq("x", "y", "x").toDF("k")
    val b = Seq("y", "z").toDF("k")
    val merged = CountMin.sketch(a, $"k")
      .unionByName(CountMin.sketch(b, $"k"))
      .groupBy($"row", $"cell").agg(sum($"cnt").as("cnt"))
    val direct = CountMin.sketch(a.unionByName(b), $"k")
    assert(merged.as[(Long, Long, Long)].collect().toSet ===
      direct.as[(Long, Long, Long)].collect().toSet)
  }

  test("histogram-refined quantiles are the exact k-th order statistics") {
    import graft.ext.Quantiles
    // planted permutation of 1..1000: every order statistic is known —
    // rank k is exactly the value k; sweep extremes and middles, and a
    // bucket count far below n so bins hold many values
    val df = new scala.util.Random(3).shuffle((1 to 1000).toList).toDF("x")
    val out = Quantiles.exactQuantiles(df, $"x", Seq(1, 100, 2500, 5000, 9999, 10000),
        buckets = 16)
      .select($"q_bp", $"k", $"exact", $"est_lo", $"est_hi")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    out.foreach { case (qBp, k, exact, lo, hi) =>
      val expectK = (qBp * 1000 + 9999) / 10000
      assert(k == expectK && exact == expectK, s"q=$qBp k=$k exact=$exact")
      assert(lo <= exact && exact <= hi, s"q=$qBp [$lo,$hi] !∋ $exact")
    }
    // degenerate domain: all values equal → one bin, every quantile hits it
    val const = Seq.fill(50)(7L).toDF("x")
    val c = Quantiles.exactQuantiles(const, $"x", Seq(100, 5000, 10000), buckets = 16)
      .select($"exact").as[Long].collect()
    assert(c.toSeq == Seq(7L, 7L, 7L))
    // duplicates straddling ranks: value at any rank among ties is the tie
    val dup = (Seq.fill(10)(1L) ++ Seq.fill(10)(2L)).toDF("x")
    val d = Quantiles.exactQuantiles(dup, $"x", Seq(5000, 5001, 10000), buckets = 4)
      .select($"q_bp", $"exact").as[(Long, Long)].collect().toMap
    assert(d(5000L) == 1L && d(5001L) == 2L && d(10000L) == 2L)
  }
}
