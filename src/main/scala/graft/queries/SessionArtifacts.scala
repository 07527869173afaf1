package graft.queries

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** One named artifact of the [[SessionArtifacts]] store, declared once
  * per artifact and called as `art(s, dir, params*) { build }`: the
  * value for that key, built by `build` on first use. */
private[graft] final class SessionArtifact[V](val name: String) {
  def apply(s: SparkSession, dir: String, params: Any*)(build: => V): V =
    SessionArtifacts.get(this, s, dir, params)(build)
}

private[graft] object SessionArtifact {
  def apply[V](name: String): SessionArtifact[V] = new SessionArtifact[V](name)
}

/** The session-artifact store: the corpus-sized upstreams the query
  * modules share across queries (shingle sets, LSH pairs, SQ8 codes,
  * k-means fits, registry publishes, the registry root itself),
  * materialized once per (artifact, session, dir, params).
  *
  *  - Built once per key. `computeIfAbsent` only allocates the key's
  *    holder; the build runs in the holder's `lazy val`, outside any
  *    map lock. A build may therefore read other artifacts of this
  *    store directly, in program order; concurrent callers of one key
  *    wait on its holder while other keys build in parallel.
  *  - A build that throws leaves nothing cached: callers waiting on it
  *    see the same failure, and the next call builds again.
  *  - Entries hold eagerly `localCheckpoint`ed blocks whose storage dies
  *    with the owning session's context, so every lookup first drops the
  *    entries of stopped sessions (a few dozen entries; exact, since a
  *    stopped context is when the values became unusable). Within one
  *    live session entries are immortal by design — the driver's
  *    one-process contract; a multi-tenant service would also evict on
  *    corpus-version change and persist artifacts to storage (the
  *    [[graft.ext.VectorIndexStore]] path).
  *  - [[clear]] drops every artifact at once. The registry root is an
  *    artifact too ([[RegistryRoots]]), so publish caches and the root
  *    they published into are always dropped together.
  */
private[graft] object SessionArtifacts {

  private final case class Key(artifact: SessionArtifact[_], session: SparkSession,
      dir: String, params: Seq[Any])

  private final class Slot(build: () => Any) {
    private var failure: Throwable = null // guarded by the lazy val's monitor
    lazy val value: Any = {
      if (failure != null) throw failure
      try build() catch { case e: Throwable => failure = e; throw e }
    }
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  private[queries] def get[V](art: SessionArtifact[V], s: SparkSession, dir: String,
      params: Seq[Any])(build: => V): V = {
    slots.keySet.removeIf(_.session.sparkContext.isStopped)
    val key = Key(art, s, dir, params)
    val slot = slots.computeIfAbsent(key, _ => new Slot(() => build))
    try slot.value.asInstanceOf[V]
    catch { case e: Throwable => slots.remove(key, slot); throw e }
  }

  /** Drop every artifact of every session; the next publish lands in a
    * fresh registry root. */
  def clear(): Unit = slots.clear()
}
