package graft.sources

/** In-process positive-existence cache for write-once artifacts
  * ([[StandingArtifact]], the standing hash index, the lifeline layout).
  *
  * Every serving call re-checks its artifact's commit marker; on an
  * object store that is an HTTP HEAD per artifact per request. Under the
  * write-once contract a positive check is permanently valid, so it is
  * cached here and the steady-state cost becomes a set lookup. Negative
  * results are never cached — an absent artifact must stay re-checkable
  * until its build commits. Anything that wipes artifacts (to rebuild
  * or re-time them) must [[forget]] the wiped roots or later ensures
  * would serve a deleted path.
  */
object ArtifactCache {

  private val known = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** True when `key` is known committed; otherwise runs `check`, caching
    * a positive result.
    */
  def committed(key: String)(check: => Boolean): Boolean =
    known.contains(key) || { val ok = check; if (ok) known.add(key); ok }

  /** Record a just-committed artifact. */
  def add(key: String): Unit = { known.add(key); () }

  /** Per-path build lock: every check-then-build ensure must serialize
    * concurrent cold-path builders behind this, or two racing requests
    * both pass the existence check and the loser's `mode(overwrite)`
    * deletes the winner's committed files under a third reader's scan.
    * (In-process only — cross-JVM builders need the deterministic-write
    * idempotence the artifacts already have.)
    */
  def lockFor(key: String): Object = locks.computeIfAbsent(key, _ => new Object)

  /** Drop the cached key `prefix` itself and every key under it (path
    * components only — `/idx/a` never evicts its sibling `/idx/a0`).
    * A trailing slash is normalized away, like [[RelationCache.invalidate]]:
    * without it `forget("/idx/a/")` would compare `"/idx/a//"` prefixes
    * and silently evict nothing — the next ensure would then serve the
    * wiped path off the stale positive marker.
    */
  def forget(prefix0: String): Unit = {
    val prefix = if (prefix0.endsWith("/")) prefix0.dropRight(1) else prefix0
    val it = known.iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k == prefix || k.startsWith(prefix + "/")) it.remove()
    }
  }
}
