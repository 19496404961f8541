package graft.api

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Per-route serving metrics — the `echo-prometheus` middleware +
  * metrics listener the reference's API binary runs
  * (`cmd/api/main.go:62-76`: request counts and latency summaries per
  * route, exposed in Prometheus text format; storage-call summaries are
  * `gbe_storage_stats_*Duration`, `etl/storage/storage_metrics.go`).
  * Hand-rolled because the engine takes no dependencies beyond Spark:
  * a LongAdder counter per (route, status) and a fixed ring of recent
  * latencies per route for the reference's {0.5, 0.9, 0.99} quantiles.
  *
  * One INSTANCE per listener ([[HttpApi.start]] creates it, the Handle
  * exposes it): a process-global registry would mix every server's
  * traffic in one scrape — two servers on different stores would blur
  * into one dashboard, and any reset() (the warmup-zeroing in
  * [[graft.Serve.bootstrap]]) would wipe a concurrently serving
  * listener's counters.
  */
final class ApiMetrics {
  import ApiMetrics.Summary

  private val requests = new ConcurrentHashMap[(String, Int), LongAdder]()
  private val latencies = new ConcurrentHashMap[String, Summary]()

  def record(route: String, status: Int, nanos: Long): Unit = {
    requests.computeIfAbsent((route, status), _ => new LongAdder).increment()
    latencies.computeIfAbsent(route, _ => new Summary()).record(nanos)
  }

  /** Prometheus text exposition (the format the reference's metrics
    * listener serves) — counters first, then per-route summaries with
    * the reference's quantile set.
    */
  def render(): String = {
    val sb = new StringBuilder
    sb.append("# HELP gbe_api_requests_total Requests served per route and status\n")
    sb.append("# TYPE gbe_api_requests_total counter\n")
    import scala.jdk.CollectionConverters._
    requests.asScala.toSeq.sortBy { case ((r, s), _) => (r, s) }.foreach {
      case ((route, status), n) =>
        sb.append(s"""gbe_api_requests_total{route="$route",status="$status"} ${n.sum}""").append('\n')
    }
    sb.append("# HELP gbe_api_request_duration_seconds Request latency per route\n")
    sb.append("# TYPE gbe_api_request_duration_seconds summary\n")
    latencies.asScala.toSeq.sortBy(_._1).foreach { case (route, s) =>
      s.quantiles(Seq(0.5, 0.9, 0.99)).foreach { case (q, v) =>
        if (!v.isNaN)
          sb.append(f"""gbe_api_request_duration_seconds{route="$route",quantile="$q"} $v%.6f""")
            .append('\n')
      }
      sb.append(f"""gbe_api_request_duration_seconds_sum{route="$route"} ${s.sumNanos.sum / 1e9}%.6f""")
        .append('\n')
      sb.append(s"""gbe_api_request_duration_seconds_count{route="$route"} ${s.count.sum}""")
        .append('\n')
    }
    sb.toString
  }

  /** Zero the registry (warmup exclusion / test isolation). */
  def reset(): Unit = { requests.clear(); latencies.clear() }
}

object ApiMetrics {

  /** Streaming latency summary: exact count/sum plus quantiles over the
    * last `capacity` observations (a bounded sliding window — honest
    * about being recent-window quantiles, which is what a serving
    * dashboard wants; an unbounded exact summary would grow forever).
    */
  final class Summary(capacity: Int = 1024) {
    // AtomicLongArray: slot writes happen-before the scrape thread's
    // reads (a plain long[] permits stale reads and 64-bit tearing).
    // The only remaining race is a writer that claimed a slot but hasn't
    // stored yet while a LATER writer already published — the scrape then
    // reads the slot's PRIOR sample (a real observation) or, on the
    // first unfilled pass, a 0; impossible-0 samples are dropped below,
    // so a ghost never skews a quantile.
    private val ring = new java.util.concurrent.atomic.AtomicLongArray(capacity)
    private val claimed = new AtomicLong() // slots reserved by writers
    private val visible = new AtomicLong() // high-water of completed stores
    val count = new LongAdder
    val sumNanos = new LongAdder

    def record(nanos: Long): Unit = {
      count.increment()
      sumNanos.add(nanos)
      val w = claimed.getAndIncrement()
      ring.set(((w % capacity) + capacity).toInt % capacity, math.max(1L, nanos))
      visible.accumulateAndGet(w + 1, math.max)
    }

    def quantiles(qs: Seq[Double]): Seq[(Double, Double)] = {
      val n = math.min(visible.get(), capacity.toLong).toInt
      val snap = Array.tabulate(n)(ring.get).filter(_ > 0L).sorted
      if (snap.isEmpty) qs.map(_ -> Double.NaN)
      // nearest-rank: index ceil(q*n)-1, clamped. The truncating
      // (q*n).toInt form is one order statistic too HIGH everywhere it
      // matters — the median of [1s, 10s] would report 10s, and p90
      // over 10 samples would report the max — skewing every dashboard
      // and load-probe read of these summaries upward.
      else qs.map { q =>
        val idx = math.min(snap.length - 1,
          math.max(0, math.ceil(q * snap.length).toInt - 1))
        q -> snap(idx) / 1e9
      }
    }
  }

}
