package graft.ingest

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Extractor resilience semantics (reference:
  * `etl/extractor/platform_impl.go:111-222` retry/rate-limit loop and
  * `etl/controller/misseddata.go:60-95` reload-request TTL dedup). Both
  * are control logic around the ingest commit ([[PulseWriter.commitPulse]]);
  * these wrap the SOURCE so a flaky feed or a re-request storm cannot
  * multiply load.
  */
object Resilience {

  /** Wrap a pulse source with bounded exponential-backoff retries: a
    * throwing fetch is retried up to `maxRetries` times with doubling
    * sleeps (the reference retries its gRPC stream with a rate limiter);
    * the final failure propagates so the pipeline records the pulse as
    * missing and the gap-reload loop (ST3) picks it up later.
    * `sleep` is injectable for tests.
    */
  def retryingSource(
      inner: Long => Option[DataFrame],
      maxRetries: Int = 3,
      backoffMs: Long = 100,
      sleep: Long => Unit = Thread.sleep
  ): Long => Option[DataFrame] = { pulse =>
    var attempt = 0
    var out: Option[DataFrame] = None
    var done = false
    while (!done) {
      try { out = inner(pulse); done = true }
      catch {
        // an interrupt is a shutdown signal, never a retryable fault —
        // retrying it would hold a stopping thread through the whole
        // backoff ladder (and GrpcTransport.translate specifically
        // preserves interrupts so they exit promptly)
        case e: InterruptedException => throw e
        case NonFatal(_) if attempt < maxRetries =>
          sleep(backoffMs << attempt)
          attempt += 1
      }
    }
    out
  }

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
