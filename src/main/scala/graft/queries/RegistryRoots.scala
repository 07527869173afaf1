package graft.queries

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** The ONE registry root every query-module publish site uses — scoped
  * per publish-cache generation, which is what keeps the gated version
  * arithmetic honest (q194 pins generation 1 beside latest 2; q197
  * audits exact version numbers):
  *
  * [[graft.ext.VectorIndexStore.defaultPath]] is jvmToken-scoped, so it
  * OUTLIVES the session-scoped publish caches. Without this allocator,
  * any cache drop — a stopped-and-recreated SparkSession, or
  * [[SessionArtifacts.clear]] — made the caches republish into the SAME
  * root, silently shifting versions to 3/4 under oracles that
  * (correctly) pin 1/2. Here the root itself is a session artifact:
  * whenever the publish caches drop, the root drops with them, the next
  * publish lands in a FRESH generation directory and the whole surface
  * republishes from version 1 — versions inside any root are exactly
  * what one cold pass publishes, ever. Two concurrent sessions over the
  * same dir get DISTINCT roots too. Abandoned roots stay on disk until
  * the [[graft.ext.VectorIndexStore]] JVM-exit sweep — the registry is
  * write-once by design, and a stale root may still be pinned by a
  * loaded frame a query already holds. */
private[graft] object RegistryRoots {

  private val gen = new AtomicLong(0L)
  private val roots = SessionArtifact[String]("registry_root")

  /** The registry root for this (session, data dir) — allocated fresh
    * on first use after any session replacement or store clear. */
  def root(s: SparkSession, dir: String): String =
    roots(s, dir) {
      f"${graft.ext.VectorIndexStore.defaultPath(dir, "registry")}/g${gen.incrementAndGet()}%04d"
    }
}
