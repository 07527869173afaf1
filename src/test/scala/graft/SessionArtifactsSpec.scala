package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.{RegistryRoots, SessionArtifact, SessionArtifacts}

/** The session-artifact store behind every shared query artifact. */
class SessionArtifactsSpec extends SparkSpec {

  test("one build per key under concurrent callers; other keys build apart") {
    val art = SessionArtifact[Int]("spec_concurrent")
    val builds = new AtomicInteger(0)
    val s = spark
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val results = (1 to 8).map { _ =>
      pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          art(s, "spec-concurrent") { Thread.sleep(200); builds.incrementAndGet() }
        }
      })
    }
    start.countDown()
    val values = results.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(builds.get == 1 && values.toSet == Set(1))
    // a different dir or params is a different key
    assert(art(spark, "spec-concurrent", 7)(builds.incrementAndGet()) == 2)
    assert(art(spark, "spec-concurrent", 7)(builds.incrementAndGet()) == 2)
  }

  test("a build reads other artifacts of the store from inside its body") {
    // a chain of 64 artifacts, each built from the previous one inside its
    // build: with builds inside the map's computeIfAbsent this threw
    // IllegalStateException "Recursive update" once two keys shared a bin
    val chain = (0 until 64).map(i => SessionArtifact[Long](s"spec_chain_$i"))
    val builds = new AtomicInteger(0)
    def level(i: Int): Long =
      chain(i)(spark, "spec-chain") {
        builds.incrementAndGet()
        if (i == 0) 1L else level(i - 1) + 1L
      }
    assert(level(63) == 64L && builds.get == 64)
    assert(level(63) == 64L && level(10) == 11L && builds.get == 64)
  }

  test("a build that throws caches nothing; the next call builds again") {
    val art = SessionArtifact[String]("spec_failing")
    val e = intercept[IllegalStateException] {
      art(spark, "spec-failing")(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    val builds = new AtomicInteger(0)
    assert(art(spark, "spec-failing") { builds.incrementAndGet(); "ok" } == "ok")
    assert(art(spark, "spec-failing") { builds.incrementAndGet(); "again" } == "ok")
    assert(builds.get == 1)
  }

  test("clear() drops every artifact and yields a fresh registry root") {
    val a = SessionArtifact[Int]("spec_clear_a")
    val b = SessionArtifact[Int]("spec_clear_b")
    val builds = new AtomicInteger(0)
    a(spark, "spec-clear")(builds.incrementAndGet())
    b(spark, "spec-clear")(builds.incrementAndGet())
    val root = RegistryRoots.root(spark, sf)
    assert(RegistryRoots.root(spark, sf) == root)
    SessionArtifacts.clear()
    assert(a(spark, "spec-clear")(builds.incrementAndGet()) == 3)
    assert(b(spark, "spec-clear")(builds.incrementAndGet()) == 4)
    val fresh = RegistryRoots.root(spark, sf)
    assert(fresh != root && RegistryRoots.root(spark, sf) == fresh)
  }

  // Stops the suite's session, so it runs last and leaves a fresh one
  // behind for the suites that follow.
  test("entries of a stopped session are purged") {
    val art = SessionArtifact[Int]("spec_stopped")
    val builds = new AtomicInteger(0)
    val session = spark
    assert(art(session, "spec-stopped")(builds.incrementAndGet()) == 1)
    assert(art(session, "spec-stopped")(builds.incrementAndGet()) == 1)
    session.stop()
    try {
      // the stopped session's entry is gone, so its key builds again
      assert(art(session, "spec-stopped")(builds.incrementAndGet()) == 2)
    } finally assert(!SparkSpec.session().sparkContext.isStopped)
  }
}
