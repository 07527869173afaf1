package graft

import graft.ext.{MinHashLsh, SimHashDedup}
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

class HashDedupSpec extends SparkSpec {
  import spark.implicits._

  test("polyhash: codegen and interpreted agree with the pinned semantics") {
    // hand-computed: "ab" -> ((0*31+97)%m*31+98)%m = 3105
    val df = Seq("ab", "", "abc").toDF("s")
    val got = df.select(GraftFunctions.polyhash($"s").as("h")).as[Long].collect()
    assert(got(0) == 3105L && got(1) == 0L && got(2) == (3105L * 31 + 99) % 1000000007L)
    // SQL registration path
    df.createOrReplaceTempView("hash_in")
    val viaSql = spark.sql("SELECT polyhash(s, 1000000007) AS h FROM hash_in ORDER BY h")
      .as[Long].collect()
    assert(viaSql.sorted.toSeq == got.sorted.toSeq)
  }

  test("simhash32 is deterministic, order-insensitive to duplicate tokens sign") {
    val df = Seq("the quick fox", "the quick fox", "completely different words here")
      .toDF("s")
    val hs = df.select(GraftFunctions.simhash32($"s").as("h")).as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hs(0) >= 0L && hs(0) < (1L << 32))
    assert(hs(0) != hs(2))
  }

  test("MinHash LSH surfaces planted near-dups with high est_sim") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val df = Seq(
      (1L, base), (2L, base + " x"),
      (3L, "entirely unrelated material about spark query engines and shuffles"),
      (4L, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp aaa sss ddd fff ggg"))
      .toDF("doc_id", "text")
    val pairs = MinHashLsh.nearDupPairs(df, "doc_id", "text", minEstSim = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("bucket cap excludes clone clusters, keeps ordinary pairs, and is a no-op below the cap") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val clones = (10L to 15L).map(i => (i, "identical boilerplate page body repeated verbatim across the mirror set"))
    val df = (Seq(
      (1L, base), (2L, base + " x"),
      (3L, "entirely unrelated material about spark query engines and shuffles")) ++ clones)
      .toDF("doc_id", "text")
    // six identical clones share every band bucket (size 6 > cap 4):
    // the quadratic 15-pair expansion is excluded entirely, while the
    // ordinary near-dup pair in small buckets survives — the cap is now
    // nearDupPairs' DEFAULT behavior, spelled explicitly here
    val capped = MinHashLsh.nearDupPairs(df, "doc_id", "text",
        minEstSim = 0.5, maxBucket = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((1L, 2L)))
    assert(!capped.exists(p => p._1 >= 10L && p._2 >= 10L),
      "clone-cluster pairs must not expand past the bucket cap")
    // with no bucket above the default cap, the default-cap result
    // equals the effectively-uncapped one (same pair set + estimates)
    val small = Seq((1L, base), (2L, base + " x"),
      (3L, "entirely unrelated material about spark query engines and shuffles"))
      .toDF("doc_id", "text")
    val a = MinHashLsh.nearDupPairs(small, "doc_id", "text", minEstSim = 0.5)
      .select("id_a", "id_b", "est_sim").as[(Long, Long, Double)].collect().toSet
    val b = MinHashLsh.nearDupPairs(small, "doc_id", "text",
        minEstSim = 0.5, maxBucket = Int.MaxValue)
      .select("id_a", "id_b", "est_sim").as[(Long, Long, Double)].collect().toSet
    assert(a == b)
    // the delegating explicit-cap entry point agrees with the default form
    val c = MinHashLsh.nearDupPairsCapped(small, "doc_id", "text",
        minEstSim = 0.5, maxBucket = MinHashLsh.DefaultMaxBucket)
      .select("id_a", "id_b", "est_sim").as[(Long, Long, Double)].collect().toSet
    assert(a == c)
  }

  test("SimHash banded pairs equal brute-force pairs (pigeonhole exactness)") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 10 == 0) "shared base text repeated tokens alpha beta gamma"
          else s"doc $i unique words ${i * 7} ${i * 13} zeta eta theta iota kappa"))
    val df = docs.toDF("doc_id", "text")
    val banded = SimHashDedup.nearDupPairs(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sims = SimHashDedup.simhashes(df, "doc_id", "text")
    val brute = sims.as("a").crossJoin(sims.as("b"))
      .filter($"a.id" < $"b.id")
      .filter(bit_count($"a.sh".bitwiseXOR($"b.sh")) <= 3)
      .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    assert(banded.contains((10L, 20L))) // identical docs -> hamming 0
  }

  test("wide SimHash: 64-bit signature halves and banded pairs equal brute force") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 10 == 0) "shared base text repeated tokens alpha beta gamma"
          else s"doc $i unique words ${i * 7} ${i * 13} zeta eta theta iota kappa"))
    val df = docs.toDF("doc_id", "text")
    // the low half IS simhash32 (base-31 votes), bit for bit — the two
    // operating points share one signature family
    val halves = df.select(GraftFunctions.simhash32($"text").as("s32"),
        GraftFunctions.simhash64($"text").as("s64"))
      .as[(Long, Long)].collect()
    halves.foreach { case (s32, s64) =>
      assert((s64 & 0xFFFFFFFFL) == s32, f"low half $s64%x != simhash32 $s32%x")
    }
    // identical texts agree on BOTH halves; the high half is a
    // genuinely different family (some doc must differ from its own
    // low half pattern — i.e. high != low somewhere)
    assert(halves.exists { case (s32, s64) => (s64 >>> 32) != s32.toLong })
    // wide banded pairs = brute force over the 64-bit metric
    val banded = SimHashDedup.nearDupPairsWide(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sims = SimHashDedup.simhashes64(df, "doc_id", "text")
    val brute = sims.as("a").crossJoin(sims.as("b"))
      .filter($"a.id" < $"b.id")
      .filter(bit_count($"a.sh".bitwiseXOR($"b.sh")) <= 3)
      .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    assert(banded.contains((10L, 20L))) // identical docs -> hamming 0
    // the wide metric is TIGHTER than or equal to the 32-bit one:
    // every wide-<=3 pair is 32-bit-<=3 (the low half is a summand)
    val narrow = SimHashDedup.nearDupPairs(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(narrow))
  }

  test("wide SimHash guard: an oversized 16-bit band bucket throws loudly") {
    // 20 verbatim clones share every wide band bucket; guardBucket=8
    // must trip with the advice in the message
    val df = (1L to 20L).map(i => (i, "identical clone mass every time"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      SimHashDedup.nearDupPairsWide(df, "doc_id", "text", maxHamming = 3,
        guardBucket = 8).collect()
    }
    assert(e.getMessage.contains("exceeds the guard"),
      s"unexpected message: ${e.getMessage}")
  }

  test("SimHash bucket cap excludes clone clusters, keeps ordinary pairs") {
    // a 6-doc verbatim clone cluster (one bucket in EVERY band — the
    // 10x scale-stress shape whose true pair set is clone-quadratic)
    // plus one ordinary near-dup pair that must survive the cap
    val docs = (1L to 6L).map(i => (i, "cloned boilerplate page text alpha beta gamma")) ++
      Seq((10L, "doc ten unique words zeta eta theta iota"),
        (11L, "doc ten unique words zeta eta theta iota"),
        (20L, "entirely different content kappa lambda mu nu xi"))
    val df = docs.toDF("doc_id", "text")
    val uncapped = SimHashDedup.nearDupPairs(df, "doc_id", "text",
        maxHamming = 3, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 <= 6 && p._2 <= 6) == 15) // 6*5/2 clone pairs
    val capped = SimHashDedup.nearDupPairs(df, "doc_id", "text",
        maxHamming = 3, maxBucket = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the clone cluster is excluded whole; the ordinary pair survives
    assert(!capped.exists(p => p._1 <= 6 || p._2 <= 6))
    assert(capped == uncapped.filter(p => p._1 > 6 && p._2 > 6))
    assert(capped.contains((10L, 11L)))
  }

  test("uncapped SimHash guard: an oversized bucket throws, naming the dedup-first fix") {
    val docs = (1L to 6L).map(i =>
      (i, "cloned boilerplate page text alpha beta gamma")) ++
      Seq((20L, "entirely different content kappa lambda mu nu xi"))
    val df = docs.toDF("doc_id", "text")
    // buckets below the guard: exact result, guard invisible
    assert(SimHashDedup.nearDupPairs(df, "doc_id", "text", maxHamming = 3)
      .count() == 15)
    // the clone cluster's 6-doc bucket crosses a guard of 4: the
    // uncapped quadratic must ANNOUNCE itself, not expand
    val e = intercept[Exception] {
      SimHashDedup.nearDupPairs(df, "doc_id", "text", maxHamming = 3,
        guardBucket = 4).count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(chain(e).exists(_.contains("clone-quadratic")),
      s"guard failure must name the fix; got: ${chain(e).mkString(" | ")}")
    // an already-deduped caller passes its own advice: the error names
    // the conscious-raise/capped-estimate choice, not a dedup redo
    val e2 = intercept[Exception] {
      SimHashDedup.nearDupPairs(df, "doc_id", "text", maxHamming = 3,
        guardBucket = 4,
        guardAdvice = "already exact-deduped: raise guardBucket consciously")
        .count()
    }
    assert(chain(e2).exists(_.contains("already exact-deduped")),
      s"deduped-case advice must ride the error; got: ${chain(e2).mkString(" | ")}")
  }

  test("uncapped MinHash LSH guard: cap disabled + oversized bucket throws loudly") {
    val docs = (1L to 6L).map(i =>
      (i, "cloned boilerplate page text alpha beta gamma delta")) ++
      Seq((20L, "entirely different content kappa lambda mu nu xi"))
    val df = docs.toDF("doc_id", "text")
    // default cap path: untouched (guard applies only when the cap is
    // explicitly disabled) — the 6-clone bucket is under the cap of 64
    assert(MinHashLsh.nearDupPairs(df, "doc_id", "text").count() == 15)
    // cap disabled, bucket under the guard: exact result, guard invisible
    assert(MinHashLsh.nearDupPairs(df, "doc_id", "text",
      maxBucket = Int.MaxValue).count() == 15)
    // cap disabled, bucket past the guard: a loud stage failure naming
    // the fix — the SimHash UncappedGuardBucket pattern, ported
    val e = intercept[Exception] {
      MinHashLsh.nearDupPairs(df, "doc_id", "text",
        maxBucket = Int.MaxValue, guardBucket = 4).count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(chain(e).exists(_.contains("clone-quadratic")),
      s"guard failure must name the fix; got: ${chain(e).mkString(" | ")}")
    // and a caller that truly wants unbounded expansion can say so
    assert(MinHashLsh.nearDupPairs(df, "doc_id", "text",
      maxBucket = Int.MaxValue, guardBucket = Int.MaxValue).count() == 15)
  }

  test("LSH operating curve: counts shrink and thresholds nest as t rises (q147)") {
    val rows = graft.queries.HashDedupQueries.q147LshRoc(spark, sf)
      .select($"thr_ppm", $"tp", $"fp", $"fn")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(500000L, 625000L, 750000L, 875000L))
    // raising the threshold can only shrink the positive sets: tp and
    // (tp+fp) are non-increasing in t (fn may move either way — truth
    // and estimate shrink independently)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2, s"tp grew with threshold: $lo -> $hi")
      assert(hi._2 + hi._3 <= lo._2 + lo._3,
        s"est-positive count grew with threshold: $lo -> $hi")
    }
  }

  test("nearDupAgainstIndex equals the cross-split slice of nearDupPairs") {
    // real corpus slice: the incremental probe against a snapshot index
    // must surface EXACTLY the snapshot↔fresh pairs the full self-join
    // finds — same banding, same estimate (the self-join's default
    // bucket cap is a no-op on this corpus: buckets peak at 3)
    val docs = Tables.load(spark, sf, "documents")
    val split = 250L
    val index = MinHashLsh.bandedIndex(docs.filter($"doc_id" < split), "doc_id", "text")
    val inc = MinHashLsh.nearDupAgainstIndex(
        docs.filter($"doc_id" >= split), "doc_id", "text", index)
      .select($"corpus_id", $"fresh_id", $"est_sim")
      .as[(Long, Long, Double)].collect().toSet
    val full = MinHashLsh.nearDupPairs(docs, "doc_id", "text")
      .filter($"id_a" < split && $"id_b" >= split)
      .select($"id_a", $"id_b", $"est_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full, s"incremental=${inc.size} full-slice=${full.size}")
    assert(inc.nonEmpty, "fixture has no cross-split near-dups — weak test")
  }

  test("q173 persisted-index probe equals the in-process q120 (round trip lossless)") {
    val inProc = graft.queries.HashDedupQueries.q120IncrementalLsh(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    val loaded = graft.queries.HashDedupQueries.q173PersistedLshProbe(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(loaded.nonEmpty, "no cross-split near-dups — weak test")
    assert(loaded == inProc, "probe against the parquet index diverged")
  }

  test("q170 source-overlap matrix aggregates the LSH pair list exactly") {
    val docs = Tables.load(spark, sf, "documents")
    val pairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text", minEstSim = 0.5)
      .select($"id_a", $"id_b", $"est_sim")
      .as[(Long, Long, Double)].collect()
    val srcMap = docs.select($"doc_id", $"source")
      .as[(Long, String)].collect().toMap
    val expect = pairs.map { case (a, b, est) =>
      val (sa, sb) = (srcMap(a), srcMap(b))
      (if (sa <= sb) (sa, sb) else (sb, sa), math.round(est * 16))
    }.groupBy(_._1).map { case ((sa, sb), vs) =>
      (sa, sb, vs.length.toLong, vs.map(_._2).sum)
    }.toSet
    val got = graft.queries.HashDedupQueries.q170SourceOverlap(spark, sf)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got.nonEmpty, "fixture has no near-dup pairs — weak test")
    assert(got == expect, "matrix diverges from the folded pair list")
  }
}
