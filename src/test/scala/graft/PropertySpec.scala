package graft

import java.nio.file.Files

import graft.enrich.SlidingWindowRateLimiter
import graft.operators.CoreOps
import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY.md §5.2): round-trips, order
  * restoration, template-expansion invariants, limiter bounds.
  * Uses raw scalacheck generators with fixed seeds (scalatestplus
  * bridge is not in the offline dependency cache) — deterministic,
  * and DataFrame properties use few, small cases (a Spark job each). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).getOrElse(
      sys.error(s"generator failed for seed $seed"))

  private val cell: Gen[String] =
    Gen.listOf(Gen.frequency(9 -> Gen.alphaNumChar, 1 -> Gen.oneOf(' ', '-', '_', '.')))
      .map(_.mkString.take(20))

  test("property: native intersect count equals the builtin on sorted distinct sets") {
    import graft.functions.VectorKernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val setGen: Gen[Array[Long]] =
      Gen.listOf(Gen.chooseNum(0L, 40L)).map(_.distinct.sorted.toArray)
    for (seed <- 1L to 40L) {
      val a = sample(setGen, seed)
      val b = sample(setGen, seed + 1000)
      val got = VectorKernels.intersectSizeSortedLong(
        new GenericArrayData(a), new GenericArrayData(b))
      assert(got == a.toSet.intersect(b.toSet).size.toLong, s"seed=$seed")
    }
    // edges: empty sides, disjoint, identical
    def isz(a: Array[Long], b: Array[Long]) =
      VectorKernels.intersectSizeSortedLong(
        new GenericArrayData(a), new GenericArrayData(b))
    assert(isz(Array.empty, Array(1L, 2L)) == 0L)
    assert(isz(Array(1L, 2L), Array.empty) == 0L)
    assert(isz(Array(1L, 3L, 5L), Array(2L, 4L, 6L)) == 0L)
    assert(isz(Array(1L, 3L, 5L), Array(1L, 3L, 5L)) == 3L)
    // contract tripwire: an unsorted or duplicated input the merge
    // actually visits throws instead of silently undercounting
    intercept[IllegalArgumentException] {
      isz(Array(5L, 3L, 4L), Array(5L, 6L, 7L))
    }
    intercept[IllegalArgumentException] {
      isz(Array(1L, 2L, 3L), Array(2L, 2L, 3L))
    }
    // a violation past the shorter side's exhaustion is legitimately
    // invisible (the merge never visits it) — documented, not asserted
    // the Jaccard kernel shares the contract and the tripwire
    def jac(a: Array[Long], b: Array[Long]) =
      VectorKernels.jaccardSortedLong(
        new GenericArrayData(a), new GenericArrayData(b))
    assert(jac(Array(1L, 2L, 3L), Array(2L, 3L, 4L)) == 0.5)
    intercept[IllegalArgumentException] {
      jac(Array(5L, 3L, 4L), Array(5L, 6L, 7L))
    }
  }

  test("property: CSV export -> re-ingest is identity on non-blank string rows") {
    val rows = Gen.nonEmptyListOf(Gen.zip(cell.suchThat(_.trim.nonEmpty), cell)).map(_.take(8))
    for (seed <- 1L to 5L) {
      val data = sample(rows, seed)
      val df = data.toDF("group", "response")
        .select(trim($"group").as("group"), trim($"response").as("response"))
      val out = Files.createTempDirectory("graft_prop").toString + "/csv"
      Sinks.writeCsv(df, out, singleFile = true)
      val back = spark.read.option("header", "true").csv(out)
        .na.fill("") // empty strings round-trip as null in CSV
      val a = df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      val b = back.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(a == b, s"seed=$seed")
    }
  }

  test("property: restoreOrder recovers original order from any shuffle") {
    for (seed <- 1L to 5L) {
      val n = sample(Gen.chooseNum(1, 50), seed).toLong
      val df = (0L until n).map(i => (i, s"v$i")).toDF("row_index", "v").repartition(4)
      val restored = CoreOps.restoreOrder(df).select("v").as[String].collect()
      assert(restored.toSeq == (0L until n).map(i => s"v$i"), s"seed=$seed")
    }
  }

  test("property: template expansion preserves all non-placeholder text") {
    val literal = Gen.listOf(Gen.frequency(9 -> Gen.alphaNumChar, 1 -> Gen.oneOf(' ', '.', ',')))
      .map(_.mkString.take(30))
    val cases = (1L to 10L).map(s =>
      (sample(literal, s), sample(cell, s + 100), sample(cell, s + 200)))
    val df = cases.toDF("lit0", "a", "b")
      .withColumn("tpl", concat($"lit0", lit("{a} mid {b} end")))
    // expand a dynamic template per row: same fold CoreOps uses, applied
    // via replace on the tpl column
    val expanded = df.select($"lit0", $"a", $"b",
      replace(replace($"tpl", lit("{a}"), $"a"), lit("{b}"), $"b").as("p")).collect()
    expanded.foreach { r =>
      assert(r.getAs[String]("p") ==
        s"${r.getAs[String]("lit0")}${r.getAs[String]("a")} mid ${r.getAs[String]("b")} end")
    }
    // and the static-template CoreOps path
    val one = Seq(("x1", "y2")).toDF("a", "b")
      .select(CoreOps.expandTemplate("pre {a} mid {b} end", Seq("a", "b")).as("p"))
      .as[String].head()
    assert(one == "pre x1 mid y2 end")
  }

  test("property: sanitizeName output is always [A-Za-z0-9 _-]+ or unknown") {
    val names = (1L to 30L).map(s => sample(Gen.asciiPrintableStr.map(_.take(15)), s))
    val out = names.toDF("n").select(CoreOps.sanitizeName($"n").as("s")).as[String].collect()
    out.foreach { s =>
      assert(s == "unknown" || (s.matches("[A-Za-z0-9 _-]+") && s == s.trim))
    }
  }

  test("property: rate limiter never exceeds N acquisitions per trailing 60s") {
    for (seed <- 1L to 20L) {
      val rate = sample(Gen.chooseNum(1, 10), seed)
      val gaps = sample(Gen.listOfN(40, Gen.chooseNum(0L, 30000L)), seed + 500)
      var now = 0L
      val rl = new SlidingWindowRateLimiter(rate, () => now, ms => now += ms)
      val times = gaps.map { g => now += g; rl.acquire(); now }
      times.foreach { t =>
        val inWindow = times.count(x => x > t - 60000 && x <= t)
        assert(inWindow <= rate, s"seed=$seed window ending $t had $inWindow > $rate")
      }
    }
  }

  test("property: connected components agree with driver-side union-find") {
    for (seed <- 1L to 3L) {
      val n = 30
      val edges = sample(Gen.listOfN(25,
        Gen.zip(Gen.chooseNum(1, n), Gen.chooseNum(1, n))), seed + 900)
        .filter { case (a, b) => a != b }.map { case (a, b) => (a.toLong, b.toLong) }
      // reference: naive union-find on the driver
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map(v => v.toLong -> {
        // component label = min vertex of the component
        val root = find(v)
        (1 to n).filter(u => find(u) == root).min.toLong
      }).toMap
      val got = graft.ext.ConnectedComponents.assign(
          (1 to n).map(_.toLong).toDF("id"), "id",
          edges.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed=$seed: CC labels diverge from union-find")
    }
  }

  test("property: resizeStub matches a reference pooling for random payloads") {
    import graft.ext.Multimodal.FeatureExtractor.resizeStub
    for (seed <- 1L to 10L) {
      val bytes = sample(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)), seed + 950).toArray
      val factor = sample(Gen.chooseNum(1, 7), seed + 960)
      val expected = bytes.map(_ & 0xff).grouped(factor)
        .map(g => (g.map(_.toLong).sum / g.length).toByte).toArray
      assert(resizeStub(bytes, factor).toSeq == expected.toSeq,
        s"seed=$seed factor=$factor")
    }
  }

  test("property: distributed prefix sum equals the sequential scan for any values") {
    for (seed <- 1L to 5L) {
      val n = sample(Gen.chooseNum(1, 60), seed + 1000)
      val vals = sample(Gen.listOfN(n, Gen.chooseNum(-100L, 100L)), seed + 1010)
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("k", "v").repartition(5)
      val got = CoreOps.withRunningSumByOrder(df, "v", "cum", col("k"))
        .orderBy("k").select("cum").as[Long].collect().toSeq
      val want = vals.scanLeft(0L)(_ + _).tail
      assert(got == want, s"seed=$seed n=$n")
    }
  }

  test("property: exclusive prefix max equals the sequential scan for any values") {
    for (seed <- 1L to 5L) {
      val n = sample(Gen.chooseNum(1, 60), seed + 2000)
      val vals = sample(Gen.listOfN(n, Gen.chooseNum(-100L, 100L)), seed + 2010)
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("k", "v").repartitionByRange(5, col("k")).sortWithinPartitions("k")
      val got = org.apache.spark.sql.GraftShim.zipWithPrefixMax(df, "v", "rm")
        .orderBy("k").select("rm").as[Long].collect().toSeq
      val want = vals.scanLeft(Long.MinValue)(math.max).init
      assert(got == want, s"seed=$seed n=$n")
    }
  }

  test("property: distributed skyline equals the quadratic dominance definition") {
    import graft.ext.Skyline
    for (seed <- 1L to 5L) {
      val n = sample(Gen.chooseNum(1, 80), seed + 3000)
      val pts = sample(Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 20L))), seed + 3010)
      val df = pts.zipWithIndex.map { case ((c, g), i) => (i.toLong, c, g) }
        .toDF("id", "cost", "gain").repartition(5)
      val got = Skyline.frontier2(df, "cost", "gain")
        .select("id").as[Long].collect().toSet
      val want = pts.zipWithIndex.filterNot { case ((c, g), _) =>
        pts.exists { case (c2, g2) => c2 <= c && g2 >= g && (c2 < c || g2 > g) }
      }.map(_._2.toLong).toSet
      assert(got == want, s"seed=$seed n=$n got=$got want=$want")
    }
  }

  test("property: repetition stats match a driver-side brute force on random token docs") {
    import graft.ext.Repetition
    val word = Gen.oneOf("a", "bb", "ccc", "dd", "e")
    for (seed <- 1L to 5L) {
      val docs = sample(Gen.listOfN(6, Gen.listOf(word).map(_.take(12))), seed + 1100)
        .zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      def brute(ws: Seq[String], n: Int): (Long, Long, Long) = {
        val grams = ws.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        val counts = grams.groupBy(identity).view.mapValues(_.length.toLong)
        (grams.length.toLong,
          if (counts.isEmpty) 0L else counts.values.max,
          counts.size.toLong)
      }
      val got = Repetition.ngramRepetitionStats(docs.toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("id").collect()
      docs.foreach { case (id, text) =>
        val ws = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
        val (n2t, n2top, _) = brute(ws, 2)
        val (n3t, _, n3d) = brute(ws, 3)
        val r = got(id.toInt)
        assert(r.getLong(1) == n2t && r.getLong(2) == n2top &&
          r.getLong(3) == n3t && r.getLong(4) == n3d,
          s"seed=$seed doc=$id text='$text' got=$r want=($n2t,$n2top,$n3t,$n3d)")
      }
    }
  }

  test("property: sq8 reconstruction error is within half a quantization step per dim") {
    import graft.ext.Quantize
    for (seed <- 1L to 3L) {
      val vecs = sample(Gen.listOfN(8,
        Gen.listOfN(4, Gen.chooseNum(-1000, 1000).map(_ / 250.0f))), seed + 1200)
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = vecs.toDF("id", "vec")
      val codes = Quantize.sq8Codes(df, "id", "vec").orderBy("id")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      // recompute per-dim min/max on the driver
      val dims = vecs.head._2.indices
      val mins = dims.map(d => vecs.map(_._2(d).toDouble).min)
      val maxs = dims.map(d => vecs.map(_._2(d).toDouble).max)
      vecs.foreach { case (id, v) =>
        dims.foreach { d =>
          val step = (maxs(d) - mins(d)) / 255.0
          val reconstructed = mins(d) + codes(id)(d) * step
          val tol = if (step == 0.0) 1e-9 else step / 2 + 1e-9
          assert(math.abs(reconstructed - v(d).toDouble) <= tol,
            s"seed=$seed id=$id d=$d code=${codes(id)(d)} recon=$reconstructed x=${v(d)}")
        }
      }
    }
  }

  test("property: morton interleave is a bijection (x and y recoverable)") {
    val xy = Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))
    val pairs = (1L to 200L).map(sample(xy, _)).distinct
    val out = pairs.toDF("x", "y")
      .select($"x", $"y", graft.operators.ZOrder.interleave16($"x", $"y").as("z"))
      .as[(Long, Long, Long)].collect()
    out.foreach { case (x, y, z) =>
      val xBack = (0 until 16).map(b => ((z >> (2 * b)) & 1L) << b).sum
      val yBack = (0 until 16).map(b => ((z >> (2 * b + 1)) & 1L) << b).sum
      assert(xBack == x && yBack == y, s"z=$z decoded to ($xBack,$yBack) not ($x,$y)")
    }
    assert(out.map(_._3).distinct.length == pairs.length, "distinct inputs -> distinct z")
  }

  test("property: fmix31 stays in [0, 2^31) and is injective on distinct hashes") {
    // fmix31 composes xorshifts (bijective on 31+ bits? — the shifts are
    // >= 13 so within 31-bit values they are bijective) with odd
    // multiplications mod 2^31 (bijective): distinct inputs must never
    // collide, and outputs must stay within the 31-bit register domain
    val keys = (1L to 3000L).map(i => i * 2654435761L % 1000000007L).distinct
    val out = keys.toDF("p")
      .select(graft.ext.Hll.hash31($"p").as("h"))
      .as[Long].collect()
    assert(out.forall(h => h >= 0L && h < 2147483648L))
    assert(out.distinct.length == keys.length, "fmix31 collided on distinct polyhashes")
  }

  test("property: misra-gries candidates form a superset of true heavy hitters") {
    val stream = Gen.listOfN(400,
      Gen.frequency(5 -> Gen.const("hot"), 3 -> Gen.const("warm"),
        2 -> Gen.oneOf((1 to 60).map(i => s"t$i"))))
    for (seed <- 1L to 5L) {
      val tokens = sample(stream, seed)
      val k = 8
      val n = tokens.length
      val truth = tokens.groupBy(identity).view.mapValues(_.size)
        .filter(_._2 * k > n).keySet
      val cand = graft.ext.HeavyHitters.misraGries(tokens.iterator, k).toSet
      assert(truth.subsetOf(cand), s"seed=$seed missing ${truth -- cand}")
      assert(cand.size <= k - 1)
    }
  }

  test("property: overlapping chunks reconstruct the document from stride prefixes") {
    // text == concat of chunk.take(stride): chunk i covers [i*s, i*s+w);
    // its first s chars tile the document exactly, so nothing is lost
    // or duplicated by the overlap
    import graft.ext.Chunking
    for (seed <- 1L to 5L) {
      val len = sample(Gen.chooseNum(1, 700), seed + 1500)
      val text = sample(Gen.listOfN(len, Gen.alphaNumChar), seed + 1600).mkString
      val chunks = Chunking.overlapping(Seq((1L, text)).toDF("id", "text"), "text")
        .select($"chunk_no", $"chunk").as[(Long, String)].collect().sortBy(_._1)
      assert(chunks.map(_._2.take(Chunking.Stride)).mkString == text, s"seed=$seed len=$len")
      // every chunk except possibly the last is full width or reaches EOF
      chunks.init.foreach { case (i, c) =>
        assert(c.length == Chunking.Width ||
          (i * Chunking.Stride + c.length).toInt == text.length)
      }
    }
  }

  test("property: hash_embed is additive over token concatenation") {
    // embed(a ++ b) = embed(a) + embed(b) for non-empty token lists: the
    // hashing trick is a linear map of the token-count vector, which is
    // what lets map-side partial embeddings merge by vector addition
    import graft.functions.HashUtil
    import org.apache.spark.unsafe.types.UTF8String
    def e(s: String): Seq[Long] =
      HashUtil.hashEmbed(UTF8String.fromString(s), 16).toLongArray().toSeq
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(8))
    val words = Gen.nonEmptyListOf(word).map(_.take(10))
    for (seed <- 1L to 20L) {
      val a = sample(words, seed + 1300).mkString(" ")
      val b = sample(words, seed + 1400).mkString(" ")
      val sum = e(a).zip(e(b)).map { case (x, y) => x + y }
      assert(e(a + " " + b) == sum, s"seed=$seed a='$a' b='$b'")
    }
  }

  test("property: native topk aggregate equals sort-and-take per group") {
    val rows = Gen.listOfN(300, Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(-1000L, 1000L)))
    for (seed <- 1L to 3L) {
      val data = sample(rows, seed).zipWithIndex.map { case ((g, m), i) => (g, m, i.toLong) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 17))
        .toDF("g", "m", "id")
      val got = df.select($"g", struct($"m", $"id").as("o"))
        .groupBy($"g").agg(graft.functions.TopKFunctions.topK($"o", 4).as("top"))
        .select($"g", explode($"top").as("t"))
        .select($"g", $"t.m", $"t.id").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toList.sorted).toMap
      val want = data.groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3)).sorted.take(4).toList).toMap
      assert(got === want, s"seed=$seed")
    }

    // ranked ≡ row_number() <= k over the same frames: NULL group keys
    // and NULL sort values, NaN / -0.0 / 0.0 doubles, heavy ties broken
    // by the unique id, ASC and DESC, k above a group's size, no keys,
    // and an empty input. Cells compare as strings so -0.0 ≠ 0.0.
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TopKFunctions.ranked
    val dbl = Gen.frequency(3 -> Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5),
      5 -> Gen.chooseNum(-3, 3).map(_.toDouble), 1 -> Gen.const(Double.MinValue))
    val frame = Gen.listOfN(240, Gen.zip(Gen.option(Gen.chooseNum(0L, 6L)),
      Gen.option(dbl), Gen.option(Gen.chooseNum(-2L, 2L))))
    def cells(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val cases = Seq(
      (Seq("g"), Seq($"m", $"id"), 4), (Seq("g"), Seq($"m".desc, $"id"), 4),
      (Seq("g"), Seq($"x".desc, $"m".asc_nulls_last, $"id".desc), 3),
      (Seq("g", "x"), Seq($"m".desc_nulls_first, $"id"), 2),
      (Seq("g"), Seq($"x", $"id"), 500), (Nil, Seq($"m".desc, $"x", $"id"), 7))
    for (seed <- 1L to 3L; (keys, order, k) <- cases) {
      val data = sample(frame, seed + 1500).zipWithIndex.map { case ((g, m, x), i) =>
        (g, m, x, i.toLong)
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 7))
        .toDF("g", "m", "x", "id")
      for (in <- Seq(df, df.limit(0))) {
        val w = if (keys.isEmpty) Window.orderBy(order: _*)
          else Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
        val cols = (keys :+ "rank") ++ Seq("g", "m", "x", "id").filterNot(keys.contains)
        val want = in.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= k).select(cols.map(col): _*)
        val got = ranked(in, keys, order, k)
        assert(got.schema === want.schema, s"seed=$seed keys=$keys order=$order")
        assert(cells(got) === cells(want), s"seed=$seed keys=$keys order=$order k=$k")
      }
    }
  }

  test("property: Elkan-pruned k-means argmin equals the exhaustive scan, ties included") {
    import graft.functions.VectorKernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 40) {
      val k = 2 + rnd.nextInt(7)
      val dim = 1 + rnd.nextInt(16)
      // small value range forces duplicate centroids and equidistant
      // rows — the tie cases the strict 4·bd bound must not disturb
      val range = if (trial % 2 == 0) 3 else 256
      val cents = Array.fill(k)(Array.fill(dim)(rnd.nextInt(range).toLong))
      // shuffled non-sequential cluster ids exercise the ties-to-
      // smaller-CLUSTER (not smaller-index) rule
      val clusters = rnd.shuffle((0 until k).map(i => (i * 7 + 3).toLong)).toArray
      val ccd2 = VectorKernels.pairwiseD2(cents)
      for (_ <- 1 to 50) {
        val row = new GenericArrayData(Array.fill(dim)(rnd.nextInt(range).toLong))
        val plain = VectorKernels.kmNearest(row, clusters, cents)
        val elkan = VectorKernels.kmNearestElkan(row, clusters, cents, ccd2)
        assert(plain.getLong(0) == elkan.getLong(0) &&
          plain.getLong(1) == elkan.getLong(1),
          s"trial=$trial plain=(${plain.getLong(0)},${plain.getLong(1)}) " +
            s"elkan=(${elkan.getLong(0)},${elkan.getLong(1)})")
      }
      // a row AT a centroid (bd=0 — maximal pruning) must still tie-break
      val onCent = new GenericArrayData(cents(rnd.nextInt(k)).clone())
      val p = VectorKernels.kmNearest(onCent, clusters, cents)
      val e = VectorKernels.kmNearestElkan(onCent, clusters, cents, ccd2)
      assert(p.getLong(0) == e.getLong(0) && p.getLong(1) == e.getLong(1))
    }
  }
}
