package perfbench

import java.net.URLEncoder

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.Endpoints

/** `explorer_http`: a closed loop of `cores` HTTP clients against
  * `Serve.bootstrap` over a seeded corpus. The eight routes get equal
  * weight; pulses, drops and jets are drawn uniformly, lifeline objects by
  * Zipf, list pages vary limit, offset and sort order, and search values
  * mix pulse numbers, jet-drop ids and object references.
  */
object ExplorerHttp {

  /** What the served views say the answers must be. */
  final class Truth(spark: SparkSession, dir: String, corrupt: Boolean) {
    val pulses: Array[Long] = graft.model.Domain.servedPulses(spark, dir)
      .select(col("pulse_number").cast("long")).collect().map(_.getLong(0)).sorted
    /** The pulses total the list route must answer (off by one when corrupted). */
    val pulseTotal: Long = pulses.length + (if (corrupt) 1 else 0)
    /** (jet drop id, jet, pulse) of every served drop. */
    val drops: Array[(String, String, Long)] = graft.model.Domain.servedJetDrops(spark, dir)
      .select(graft.functions.Codecs.jetDropIdString(col("jet_id"), col("pulse_number")),
        coalesce(col("jet_id"), lit("")), col("pulse_number").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(d => (d._3, d._2))
    val dropsPerPulse: Map[Long, Int] = drops.groupBy(_._3).map { case (p, ds) => p -> ds.length }
    val jets: Array[String] = drops.map(_._2).filter(_.nonEmpty).distinct.sorted
    private val recs = graft.model.Domain.servedRecords(spark, dir)
    val recordsPerDrop: Map[(String, Long), Long] =
      recs.groupBy(coalesce(col("jet_id"), lit("")), col("pulse_number").cast("long")).count()
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val statesPerObject: Array[(Long, Long)] =
      recs.filter(col("type") === "state").groupBy(col("object_reference")).count()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (o, n) => (-n, o) }

    /** Drops the by-jet route lists for `prefix`: its subtree and ancestors. */
    def treeCount(prefix: String): Long = drops.count { case (_, j, _) =>
      j.startsWith(prefix) || (j.nonEmpty && j.length < prefix.length && prefix.startsWith(j))
    }.toLong
  }

  /** Zipf(s) over ranks 0..n-1. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The seeded request stream of one client. */
  final class Planner(t: Truth, rng: Random) {
    private val zipf = new Zipf(t.statesPerObject.length, 1.1)
    private val paging = new Paging(rng)
    import paging.{limit, offset}
    private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
    private val cycle = new RouteCycle(rng)

    def next(): Req = cycle.next() match {
      case "pulses" =>
        val (l, asc) = (limit(), rng.nextBoolean())
        val o = offset(t.pulses.length)
        Req("pulses", s"/api/v1/pulses?limit=$l&offset=$o&sort_by=pulse_number_${if (asc) "asc" else "desc"}",
          Paging.check(t.pulseTotal, l, o),
          Some((s, d) => Endpoints.pulses(s, d, Endpoints.PageParams(l, o), asc = asc)))
      case "pulse" =>
        val p = t.pulses(rng.nextInt(t.pulses.length))
        Req("pulse", s"/api/v1/pulses/$p",
          (st, b) => st == 200 && Http.field(b, "pulse_number").contains(p.toString),
          Some((s, d) => Endpoints.pulse(s, d, p)))
      case "pulse_drops" =>
        val p = t.pulses(rng.nextInt(t.pulses.length))
        val total = t.dropsPerPulse.getOrElse(p, 0).toLong
        val l = limit()
        val o = offset(total)
        Req("pulse_drops", s"/api/v1/pulses/$p/jet-drops?limit=$l&offset=$o", Paging.check(total, l, o),
          Some((s, d) => Endpoints.jetDropsByPulse(s, d, p, page = Endpoints.PageParams(l, o))))
      case "drop" =>
        val (id, _, _) = t.drops(rng.nextInt(t.drops.length))
        Req("drop", s"/api/v1/jet-drops/${enc(id)}",
          (st, b) => st == 200 && Http.field(b, "jet_drop_id").contains(id),
          Some((s, d) => Endpoints.jetDropById(s, d, id).get))
      case "drop_records" =>
        val (id, jet, p) = t.drops(rng.nextInt(t.drops.length))
        val total = t.recordsPerDrop.getOrElse((jet, p), 0L)
        val l = limit()
        val o = offset(total)
        Req("drop_records", s"/api/v1/jet-drops/${enc(id)}/records?limit=$l&offset=$o",
          Paging.check(total, l, o),
          Some((s, d) => Endpoints.jetDropRecords(s, d, id, None, Endpoints.PageParams(l, o)).get))
      case "jet_drops" =>
        val jet = t.jets(rng.nextInt(t.jets.length))
        val (l, asc) = (limit(), rng.nextBoolean())
        val total = t.treeCount(jet)
        val sort = if (asc) "pulse_number_asc_jet_id_desc" else "pulse_number_desc_jet_id_asc"
        Req("jet_drops", s"/api/v1/jets/$jet/jet-drops?limit=$l&sort_by=$sort", Paging.check(total, l, 0),
          Some((s, d) => Endpoints.jetDropsByJetId(s, d, jet, pulseAsc = asc, limit = l)))
      case "lifeline" =>
        val (obj, total) = t.statesPerObject(zipf.draw(rng))
        val (l, asc) = (limit(), rng.nextBoolean())
        val o = offset(total)
        Req("lifeline", s"/api/v1/lifeline/$obj/records?limit=$l&offset=$o&sort_by=index_${if (asc) "asc" else "desc"}",
          Paging.check(total, l, o),
          Some((s, d) => Endpoints.objectLifeline(s, d, obj, asc = asc, page = Endpoints.PageParams(l, o))))
      case "search" => // hint answers: no storage touched, so no direct twin
        val (value, kind, key) = rng.nextInt(3) match {
          case 0 =>
            val p = t.pulses(rng.nextInt(t.pulses.length)).toString
            (p, "pulse", Seq("meta", "pulse_number"))
          case 1 =>
            (t.drops(rng.nextInt(t.drops.length))._1, "jet-drop", Seq("meta", "jet_drop_id"))
          case _ =>
            val obj = t.statesPerObject(zipf.draw(rng))._1
            val ref = new Array[Byte](36)
            java.nio.ByteBuffer.wrap(ref, 28, 8).putLong(obj)
            (graft.functions.Codecs.referenceToString(ref), "lifeline", Seq("meta", "object_reference"))
        }
        Req("search", s"/api/v1/search?value=${enc(value)}",
          (st, b) => st == 200 && Http.field(b, "type").contains(kind) &&
            Http.field(b, key: _*).contains(value))
    }
  }

  /** Closed-loop load: `clients` threads each send their planned stream
    * until `seconds` pass. Returns every completed sample.
    */
  def closedLoop(ctx: Ctx, clients: Int, seconds: Double, base: String,
      plan: Int => () => Req): Seq[(Sample, Req)] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Sample, Req)]()
    val start = new java.util.concurrent.CountDownLatch(1)
    @volatile var deadline = 0L
    val threads = (0 until clients).map { c =>
      val next = plan(c)
      val http = new Http
      new Thread(() => {
        start.await()
        while (System.nanoTime() < deadline) {
          val req = next()
          val (st, body, s, e) = http.get(base + req.path)
          val ok = ctx.check(req.check(st, body), s"${req.path} -> $st ${body.take(160)}")
          ctx.trace.record(ctx.trace.newId(), 0L, s"http.${req.route}", s, e)
          out.add((Sample(req.route, s, e, ok), req))
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    deadline = System.nanoTime() + (seconds * 1e9).toLong
    start.countDown()
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val spark = ctx.spark
    // set-up: the serving binary's own bootstrap from an empty index root
    // (spines, listener; its plateau warm-up budget is 0 so the run fits its
    // time), then one answer from every route, like a health check would get
    val dir = ctx.corpus.toString
    val t0 = System.nanoTime()
    val handle = graft.Serve.bootstrap(spark, dir, 0, 0L)
    try {
      val truth = new Truth(spark, dir, ctx.corrupt)
      Progress(f"bootstrap + truths: ${truth.pulses.length} pulses, ${truth.drops.length} drops, " +
        f"${truth.statesPerObject.length} objects in ${(System.nanoTime() - t0) / 1e9}%.2fs")
      val base = s"http://localhost:${handle.port}"
      val http = new Http
      val planner = new Planner(truth, new Random(ctx.seed - 1))
      val answered = mutable.Set.empty[String]
      while (answered.size < Routes.Names.length) {
        val req = planner.next()
        val (st, body, _, _) = http.get(base + req.path)
        ctx.check(req.check(st, body), s"set-up ${req.path} -> $st ${body.take(160)}")
        answered += req.route
      }
      ctx.report.e2e("setup_s", sessionS + (System.nanoTime() - t0) / 1e9, "s",
        "session + Serve.bootstrap from an empty index root + every route answered once")
      handle.metrics.reset()
      val before = Counters.snap()
      val ph0 = ctx.counters.map(_.phases)
      val work0 = ctx.counters.map(_.totals(_ == ""))
      Progress(s"load: ${ctx.cores} clients for ${ctx.seconds}s")
      val samples = closedLoop(ctx, ctx.cores, ctx.seconds, base,
        c => { val p = new Planner(truth, new Random(ctx.seed * 1000003L + c)); () => p.next() })
      val after = Counters.snap()
      val ph1 = ctx.counters.map(_.phases)
      val work1 = ctx.counters.map(_.totals(_ == ""))
      val server = Http.serverTimes(http.get(base + "/metrics")._2)
      Progress(s"load done: ${samples.length} requests")
      HttpFigures.report(ctx, samples.map(_._1), primary = true)
      if (ctx.traced) {
        val direct = directReplay(ctx, dir, samples.map(_._2))
        HttpFigures.layers(ctx, samples.map(_._1), server, direct.map(_._2))
        Phases.layers(ctx, direct.map(_._2), samples.length, ph1.get - ph0.get,
          Counters.diff(before, after), work1.get - work0.get, "http_p50_ms")
      }
    } finally handle.stop()
  }

  /** Replay a seeded sample of the served requests as direct `Endpoints`
    * calls, timed as construct and action.
    */
  def directReplay(ctx: Ctx, dir: String, reqs: Seq[Req]): Seq[(String, Phases.Split)] = {
    val rng = new Random(ctx.seed)
    val picked = reqs.filter(_.direct.nonEmpty).groupBy(_.route).toSeq.sortBy(_._1)
      .flatMap { case (_, rs) => rng.shuffle(rs).take(8) }
    Progress(s"direct Endpoints replay of ${picked.length} requests")
    ctx.spark.sparkContext.setJobGroup("direct", "direct Endpoints replay", interruptOnCancel = false)
    try picked.map { r =>
      val id = ctx.trace.newId()
      r.route -> Phases.run(ctx.trace, id, id, s"endpoint.${r.route}")(
        r.direct.get(ctx.spark, dir))(_.collect().length.toLong)
    } finally ctx.spark.sparkContext.clearJobGroup()
  }
}

/** Equal route weights: each cycle visits the eight routes in a fresh seeded order. */
final class RouteCycle(rng: Random) {
  private var order = List.empty[String]
  def next(): String = {
    if (order.isEmpty) order = rng.shuffle(Routes.Names).toList
    val r = order.head
    order = order.tail
    r
  }
}

/** The HTTP figures shared by `explorer_http` and `ingest_serve`. */
object HttpFigures {

  /** HTTP figures; `primary` when HTTP is the workload's own work, so its
    * rate and latency are the end-to-end ones.
    */
  def report(ctx: Ctx, samples: Seq[Sample], primary: Boolean): Unit = {
    val r = ctx.report
    val ms = samples.map(_.ms)
    val elapsed =
      if (samples.isEmpty) Double.NaN
      else (samples.map(_.endNs).max - samples.map(_.startNs).min) / 1e9
    val qps = samples.count(_.ok) / elapsed
    val p50 = Stats.median(ms)
    r.figure("http_qps", qps, "req/s", s"correct responses per second, n=${samples.length}")
    r.figure("http_p50_ms", p50, "ms", s"client-side median, n=${ms.length}")
    r.figure("http_p99_ms", Stats.quantile(ms, 0.99), "ms",
      s"client-side p99, n=${ms.length}: ${(ms.length * 0.01).toInt} samples beyond it")
    if (primary) {
      r.e2e("work_per_s", qps, "1/s", "correct HTTP responses per second")
      r.e2e("latency_ms", Stats.kindMedianGeoMean(samples.map(s => s.route -> s.ms)), "ms",
        s"geometric mean over the 8 routes of each route's median, n=${ms.length}")
    }
  }

  /** Per-route figures of a traced HTTP run; `direct` holds the same
    * requests replayed as direct `Endpoints` calls, if any.
    */
  def layers(ctx: Ctx, samples: Seq[Sample], server: Map[String, (Long, Double)],
      direct: Seq[Phases.Split]): Unit = {
    val r = ctx.report
    val moves = "http_p50_ms, http_p99_ms"
    Routes.Names.foreach { route =>
      val ms = samples.filter(_.route == route).map(_.ms)
      r.layer(s"api.$route.p50_ms", nz(Stats.median(ms)), "ms", s"n=${ms.length}; $moves")
    }
    val (sc, ss) = server.filter { case (k, _) => Routes.Template.values.toSet(k) }.values
      .foldLeft((0L, 0.0)) { case ((c, s), (c1, s1)) => (c + c1, s + s1) }
    val serverMs = if (sc == 0) 0.0 else ss * 1e3 / sc
    val clientMs = if (samples.isEmpty) 0.0 else samples.map(_.ms).sum / samples.length
    val directMs =
      if (direct.isEmpty) 0.0
      else direct.map(d => d.constructMs + d.actionMs).sum / direct.length
    r.layer("api.server_ms", serverMs, "ms", s"the listener's own mean over all $sc requests it served; http_p50_ms")
    r.layer("api.queue_ms", clientMs - serverMs, "ms", "client mean - server mean; http_p99_ms")
    r.layer("api.render_ms", if (direct.isEmpty) 0.0 else serverMs - directMs, "ms",
      "server mean - direct Endpoints mean; http_p50_ms")
  }

  def nz(v: Double): Double = if (v.isNaN) 0.0 else v
}
