package graft

import graft.ext.ConnectedComponents
import graft.operators.Profiler
import org.apache.spark.sql.functions._

/** Specs for the round-2 scale operators: connected components
  * (duplicate clustering) and the single-pass profiler. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connected components labels a chain, a triangle, and singletons") {
    // chain 1-2-3-4-5 (diameter 4 — exercises pointer jumping),
    // triangle 10-11-12, singleton 20
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val labels = ConnectedComponents.assign(vertices, "id", edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(labels(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L)
  }

  test("connected components on a long path converges within the round budget") {
    // a 64-node path: hash-min alone needs 63 rounds; with pointer
    // jumping the label gap closes in O(log n) — well under maxIter
    val n = 64
    val vertices = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val labels = ConnectedComponents.assign(vertices, "id", edges, "src", "dst", maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(1L), "every path node must reach label 1")
  }

  test("connected components ignores edges touching unknown vertices") {
    // edge (1,99) where 99 is not a vertex: output must stay within the
    // vertex set, and 99 must not bridge 1 to anything
    val vertices = Seq(1L, 2L).toDF("id")
    val edges = Seq((1L, 99L), (99L, 2L)).toDF("src", "dst")
    val labels = ConnectedComponents.assign(vertices, "id", edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(labels.keySet == Set(1L, 2L), s"phantom vertex leaked: ${labels.keySet}")
    assert(labels(1L) == 1L && labels(2L) == 2L,
      "components must not merge through an unknown endpoint")
  }

  test("connected components signals non-convergence instead of silent partial labels") {
    // a 32-node path with maxIter=1 cannot converge: requireConvergence
    // must throw (partial labels would under-cluster downstream dedup)
    val n = 32
    val vertices = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.assign(vertices, "id", edges, "src", "dst",
        maxIter = 1, requireConvergence = true)
    }
    assert(e.getMessage.contains("did not converge"))
    // default mode still returns (warn-only), labels present for all ids
    val labels = ConnectedComponents.assign(vertices, "id", edges, "src", "dst", maxIter = 1)
    assert(labels.count() == n)
  }

  test("connected components: driver rounds equal the distributed rounds, partial labels included") {
    // force each path through the bound: Long.MaxValue keeps every edge
    // list on the driver, -1 none
    def both(vertices: org.apache.spark.sql.DataFrame, edges: org.apache.spark.sql.DataFrame,
        maxIter: Int, requireConvergence: Boolean = false) =
      Seq(Long.MaxValue, -1L).map { bound =>
        val out = ConnectedComponents.assignBounded(vertices, "id", edges, "src", "dst",
          maxIter, requireConvergence, bound)
        // names and types: only the distributed loop's aggregate marks
        // cluster_id nullable, and neither path outputs a null
        (out.schema.map(f => (f.name, f.dataType)),
          out.select($"id".cast("long"), $"cluster_id".cast("long"))
          .as[(Long, Long)].collect().sorted.toSeq)
      }
    var partialRuns = 0
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 80
      // a shuffled 30-vertex path (several pointer-jump rounds), random
      // chords among the rest, self-loops, duplicate and reversed
      // edges, and vertices 81-85 left isolated
      val path = rnd.shuffle((1 to 30).toList)
      val chords = Seq.fill(40)((31 + rnd.nextInt(n - 30), 1 + rnd.nextInt(n)))
      val raw = path.zip(path.tail) ++ chords ++ chords.take(5).map(_.swap) :+ ((7, 7))
      val ids = 1 to n + 5
      // seed 2 keeps INT ids and seed 3 has INT vertices with LONG
      // edges, so the driver path's cast back and the union's widening
      // are covered: both paths must return the same column types too
      val longEdges = raw.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val (vertices, edges) = seed match {
        case 1 => (ids.map(_.toLong).toDF("id"), longEdges)
        case 2 => (ids.toDF("id"), raw.toDF("src", "dst"))
        case _ => (ids.toDF("id"), longEdges)
      }
      val Seq(full, fullJobs) = both(vertices, edges, maxIter = 25)
      assert(full == fullJobs, s"seed=$seed: converged labels differ between paths")
      val Seq(partial, partialJobs) = both(vertices, edges, maxIter = 1)
      assert(partial == partialJobs, s"seed=$seed: maxIter=1 partial labels differ between paths")
      if (partial._2 != full._2) partialRuns += 1
      assert(full._2.map(_._1) == ids.map(_.toLong), s"seed=$seed: every vertex labeled once")
    }
    assert(partialRuns == 3, "every maxIter=1 run must stop before convergence")
    // non-convergence is loud on both paths
    val n = 32
    val vertices = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    Seq(Long.MaxValue, -1L).foreach { bound =>
      val e = intercept[IllegalStateException] {
        ConnectedComponents.assignBounded(vertices, "id", edges, "src", "dst",
          maxIter = 1, requireConvergence = true, driverEdges = bound)
      }
      assert(e.getMessage.contains("did not converge"), s"bound=$bound")
    }
  }

  test("profiler rejects unknown columns up front and handles dotted/colliding names") {
    val e = intercept[IllegalArgumentException] {
      Profiler.profile(Seq((1, "x")).toDF("a", "b"), Seq("a", "nope"))
    }
    assert(e.getMessage.contains("nope") && e.getMessage.contains("available"))
    // a column whose name contains a dot, and one named like a round-2
    // generated alias (`v__nn`) — both must profile cleanly
    val df = Seq((Some(1L), "x", 2L), (None, "y", 3L)).toDF("k.dot", "v__nn", "v")
    val p = Profiler.profile(df, Seq("k.dot", "v__nn", "v")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("k.dot").getLong(2) == 1 && p("k.dot").getDouble(4) == 1.0)
    assert(p("v__nn").getString(6) == "x" && p("v").getDouble(5) == 3.0)
  }

  test("token_stats SQL route rejects lossy comma literals with a clear error") {
    val df = Seq("the end").toDF("t")
    df.createOrReplaceTempView("ts_in")
    // well-formed literal works
    val ok = spark.sql("SELECT element_at(token_stats(t, 'the,and'), 1) AS n FROM ts_in").collect()
    assert(ok.head.getLong(0) == 2L)
    // trailing comma (empty segment) is rejected, not silently filtered
    val e = intercept[Exception] {
      spark.sql("SELECT token_stats(t, 'the,and,') FROM ts_in").collect()
    }
    assert(e.getMessage.contains("empty segment") ||
      Option(e.getCause).exists(_.getMessage.contains("empty segment")))
  }

  test("native token_stats matches the HOF formulation it replaced") {
    import graft.functions.{GraftFunctions, TextFunctions}
    val texts = Seq(Some(""), Some("   "), Some("\nabc "), Some("a.b, c! d?"),
      Some("The THE the end"), Some("x\ty\nz\r"), Some("one"),
      Some(" lead trail "), Some("abc\n"), Some("and?of;the:"), None,
      // astral code points (surrogate pairs) and non-ASCII lowercasing:
      // kernel counts code points and lowercases per token — must match
      // Spark length() (chars) and whole-string lower()
      Some("🙂 Über İstanbul the"),
      Some("你好世界 the And"))
    val df = texts.toDF("t")
    def hofTokens(c: org.apache.spark.sql.Column) =
      when(trim(c) === "", array().cast("array<string>")).otherwise(split(trim(c), "\\s+"))
    val sw = TextFunctions.defaultStopwords
    val cmp = df.select(
      element_at(GraftFunctions.tokenStats($"t", sw), 1).as("new_n"),
      size(hofTokens($"t")).cast("long").as("old_n"),
      element_at(GraftFunctions.tokenStats($"t", sw), 2).as("new_sw"),
      size(filter(hofTokens(lower($"t")), x => x.isin(sw: _*))).cast("long").as("old_sw"),
      element_at(GraftFunctions.tokenStats($"t", sw), 3).as("new_p"),
      (length($"t") - length(regexp_replace($"t", "[.,!?;:]", ""))).cast("long").as("old_p"),
      element_at(GraftFunctions.tokenStats($"t", sw), 4).as("new_ch"),
      aggregate(transform(hofTokens($"t"), x => length(x).cast("long")),
        lit(0L), (a, x) => a + x).as("old_ch")).collect()
    cmp.zip(texts).foreach { case (r, t) =>
      for (i <- Seq(0, 2, 4, 6))
        assert(r.isNullAt(i) == r.isNullAt(i + 1) &&
          (r.isNullAt(i) || r.getLong(i) == r.getLong(i + 1)),
          s"input=$t col=$i native=${r.get(i)} hof=${r.get(i + 1)}")
    }
  }

  test("sketch-only FD entry matches q134b's estimates and drops the exact pass") {
    import graft.queries.ScaleQueries
    // the est columns must be byte-identical — same sketch build, the
    // q134b/q134c core is shared, this pins that it stays shared
    val full = ScaleQueries.q134bFdSketch(spark, sf)
      .select($"det", $"dep", $"est_det", $"est_pair", $"holds_est")
      .collect().map(_.toSeq).toSeq
    val lean = ScaleQueries.q134cFdSketchOnly(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(full == lean)
    // and the 100 TB form must carry NO exact-distinct pass and no
    // corpus-sized checkpoint. Assert on the optimized plan TREE, not
    // explain-text substrings — a Spark operator rename can't make a
    // node-class check pass vacuously.
    val optimized = ScaleQueries.q134cFdSketchOnly(spark, sf)
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
      s"sketch-only FD plan runs an exact distinct aggregate:\n$optimized")
    // checkpoints (LogicalRDD) are allowed ONLY for the constant-size
    // register sketch state (groups × 256 buckets) — a corpus-sized
    // checkpoint would carry row-level columns, not the sketch schema.
    // (The old explain-text substring check was vacuous here: a
    // LogicalRDD prints as "Scan ExistingRDD" in formatted mode.)
    val sketchCols = Set("grp", "bucket", "max_rho")
    val oversized = optimized.collect {
      case p if p.getClass.getSimpleName == "LogicalRDD" &&
        !p.output.map(_.name).forall(sketchCols) => p
    }
    assert(oversized.isEmpty,
      s"sketch-only FD plan checkpoints something beyond register state:\n$optimized")
  }

  test("leakage-safe split keeps every near-dup pair in one split, roughly 80/10/10") {
    import graft.queries.ScaleQueries
    val split = ScaleQueries.q153LeakageSafeSplit(spark, sf)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    // the leakage invariant, checked against the SAME pair generator
    // the split clusters on: no near-dup pair straddles splits
    val pairs = graft.ext.MinHashLsh.nearDupPairs(
        Tables.load(spark, sf, "documents"), "doc_id", "text", n = 8, minEstSim = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"pair ($a,$b) straddles ${split(a)}/${split(b)}")
    }
    // hash split concentrates near the 80/10/10 target
    val n = split.size.toDouble
    val frac = split.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.6 && frac("train") < 0.95, frac.toString)
    assert(frac.getOrElse("val", 0.0) < 0.25 && frac.getOrElse("test", 0.0) < 0.25)
  }

  test("profiler computes nulls, distincts, and typed min/max in one pass") {
    val df = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (Some(2L), None, Some(-2.0)),
      (None, Some("c"), Some(1.5))).toDF("k", "s", "v")
    val p = Profiler.profile(df, Seq("k", "s", "v")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("k").getLong(1) == 3 && p("k").getLong(2) == 1 && p("k").getLong(3) == 2)
    assert(p("k").getDouble(4) == 1.0 && p("k").getDouble(5) == 2.0)
    assert(p("s").getLong(2) == 1 && p("s").getString(6) == "a" && p("s").getString(7) == "c")
    assert(p("s").isNullAt(4) && p("s").isNullAt(5))
    assert(p("v").getDouble(4) == -2.0 && p("v").getDouble(5) == 1.5 && p("v").getLong(3) == 2)
  }
}
