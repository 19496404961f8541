package graft.ingest

/** The controller's reload-request TTL dedup (reference:
  * `etl/controller/misseddata.go:60-95`). The [[graft.Ingest]] daemon's
  * maintainer and sequencer register every re-request here, so a pulse
  * or gap that stays missing is re-requested once per TTL window, not
  * once per tick. Transport-level retries live in
  * [[Transport.fetchPulse]].
  */
object Resilience {

  /** Reload-request registry with TTL dedup by CONTAINMENT, mirroring
    * `misseddata.go:60-95`: a new (from, to) request is dropped when a
    * still-live earlier request already covers it; expired entries are
    * pruned on every call. The clock is injectable for tests.
    */
  final class MissedDataManager(ttlMillis: Long, now: () => Long = () => System.currentTimeMillis()) {
    private case class Req(from: Long, to: Long, at: Long)
    private var reqs = List.empty[Req]

    /** True when a still-live request already contains (from, to). */
    def covered(from: Long, to: Long): Boolean = synchronized {
      val t = now()
      reqs = reqs.filter(_.at + ttlMillis > t)
      reqs.exists(r => r.from <= from && to <= r.to)
    }

    /** Register (from, to); false when a live request already contains it. */
    def addIfNew(from: Long, to: Long): Boolean = synchronized {
      if (covered(from, to)) false
      else { reqs = Req(from, to, now()) :: reqs; true }
    }

    def pendingCount: Int = synchronized {
      val t = now()
      reqs.count(_.at + ttlMillis > t)
    }
  }
}
