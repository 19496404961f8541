package perfbench

import java.net.URLEncoder
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

import graft.ingest.{GrpcTransport, GrpcWire, Transport}

/** `ingest_serve`: `Ingest.Daemon` catches up on a backlog of seeded
  * pulses, served to it over real gRPC, into an empty store. While it
  * runs, the same store serves two closed-loop HTTP readers (the eight
  * routes in equal turns, keys bounded to the served prefix), one poller
  * asking for the newest pulse's jet drops, and one `GetNextPulse`
  * subscriber on `ExporterServe.bootstrap`. The backlog is one pulse per
  * two seconds of the run, so the timed region always holds the same work.
  */
object IngestServe {

  val Delta: Long = graft.gen.Fixtures.PulseDelta
  val Start: Long = graft.gen.Fixtures.GenesisPulse + Delta

  /** The reference's 20-jet spread as a complete cover of the jet tree:
    * twelve depth-4 jets plus the eight depth-5 children of the rest.
    */
  val Jets: Seq[String] = {
    def bin(i: Int, bits: Int) = { val b = Integer.toBinaryString(i); "0" * (bits - b.length) + b }
    (4 until 16).map(bin(_, 4)) ++ (0 until 8).map(bin(_, 5))
  }

  /** A generated object: its id, its jet, its latest state record, and
    * the pulse of each of its state records.
    */
  final class Obj(val id: Array[Byte], val jet: String) {
    var last: Array[Byte] = null
    val statePulses = mutable.ArrayBuffer.empty[Long]
  }

  /** Maintainer period of the measured daemon: each tick flushes the
    * pulses table, and the manifest protocol deletes a superseded file
    * one flush after it was superseded (`TableManifest`), so a read that
    * outlives a full period can lose its files and answer 500. At a
    * 300 ms period, below the readers' median latency under this load,
    * that happened in about a third of the runs. The measured daemon
    * keeps the product's default, 10 s (the reference's PulsePeriod),
    * several times the slowest read seen here (2.9 s). At most one tick
    * lands while a run's backlog drains (10-13 s at `--seconds 12`); at
    * 5 s a slow run was charged one flush more than a fast one, and the
    * spread of `work_per_s` over five seeds was 0.21 against 0.10 at
    * 10 s. Set-up's daemon ticks every
    * 300 ms so its one pulse shows quickly: that pulse gives the pulses
    * table two versions (complete, then sequential) and the daemon then
    * stays idle, so no read there can outlive a superseded file.
    */
  val MeasuredPeriodMs: Long = graft.Ingest.Config().pulsePeriodMs
  val SetUpPeriodMs = 300L

  /** Shortest and longest lifetime of a generated object, in pulses. */
  val MinLife = 2
  val MaxLife = 6

  /** The seeded wire feed: per pulse `perPulse` records over the 20 jets,
    * in the shape of the reference's object-lifeline generator
    * (FIXTURES.md §3.1, `testutils/generators.go:159-208`). An object's
    * first pulse carries its incoming_request and activate; each later
    * pulse carries K = 2 state records chained by `prev_state_id`, amends,
    * the last pulse an amend and the final deactivate. Each jet holds
    * `perPulse / 40` object slots, so every pulse carries exactly
    * `perPulse` records, the same number in every jet. An object lives a
    * seeded `MinLife` to `MaxLife` pulses; the pulse after its deactivate
    * a new object takes its slot. Rows go out shuffled, so ingest must
    * chain-sort them back.
    */
  final class Feed(seed: Long, pulses: Int, perPulse: Int) {
    val objects = mutable.ArrayBuffer.empty[Obj]
    val byPulse = new java.util.HashMap[Long, Array[Row]]()
    val recordsPerDrop = mutable.HashMap.empty[(Long, String), Long]

    private val rng = new Random(seed)
    private def bytes(tag: String, a: Long, b: Long) = s"$tag:$seed:$a:$b".getBytes("UTF-8")

    locally {
      val slotJets = Jets.flatMap(j => Seq.fill(perPulse / (2 * Jets.length))(j)).toArray
      val live = new Array[Obj](slotJets.length)
      val pulsesLeft = new Array[Int](slotJets.length)
      for (i <- 0 until pulses) {
        val pn = Start + i * Delta
        val rows = mutable.ArrayBuffer.empty[(Array[Byte], Obj, String, Array[Byte])]
        def add(obj: Obj, kind: String, prev: Array[Byte]): Unit = {
          val id = bytes("rec", pn, rows.length)
          rows += ((id, obj, kind, prev))
          if (kind != "incoming_request") {
            obj.last = id
            obj.statePulses += pn
          }
        }
        for (k <- slotJets.indices) live(k) match {
          case null =>
            val o = new Obj(bytes("obj", pn, k), slotJets(k))
            objects += o
            live(k) = o
            pulsesLeft(k) = MinLife - 1 + rng.nextInt(MaxLife - MinLife + 1)
            add(o, "incoming_request", null)
            add(o, "activate", null)
          case o if pulsesLeft(k) > 1 =>
            add(o, "amend", o.last)
            add(o, "amend", o.last)
            pulsesLeft(k) -= 1
          case o =>
            add(o, "amend", o.last)
            add(o, "deactivate", o.last)
            live(k) = null
        }
        val shuffled = rng.shuffle(rows.toSeq)
        byPulse.put(pn, shuffled.zipWithIndex.map { case ((id, o, kind, prev), rn) =>
          recordsPerDrop((pn, o.jet)) = recordsPerDrop.getOrElse((pn, o.jet), 0L) + 1
          val state = kind == "activate" || kind == "amend"
          new GenericRowWithSchema(Array[Any](rn.toLong, id, o.id, o.jet, kind,
            if (state) bytes("img", pn, 0) else null,
            if (state) bytes("mem", pn, rn.toLong) else null,
            prev, bytes("raw", pn, rn.toLong) ++ Array.fill[Byte](64)(rn.toByte), pn),
            graft.model.Schemas.wireRecords): Row
        }.toArray)
      }
    }

    def pulseList: Seq[Long] = (0 until pulses).map(Start + _ * Delta)
    def recordsOf(pn: Long): Int = byPulse.get(pn).length
  }

  /** The exporter's side of the wire: replays the feed, then answers
    * NOT_FOUND past its last pulse like an exporter at the chain head.
    */
  final class Replay(feed: Feed) extends Transport.RecordStream {
    override def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
      val rows = feed.byPulse.get(pulse)
      if (rows == null) throw new Transport.PulseNotFound(pulse)
      val slice = rows.slice(recordNumber, recordNumber + count)
      val recs = slice.iterator.map(r => Transport.Frame(pulse, r))
      if (recordNumber + slice.length >= rows.length) recs ++ Iterator(Transport.Frame(pulse + Delta, null))
      else recs
    }
  }

  /** The record stream handed to the daemon, timed from outside: time
    * spent inside it per pulse, each pulse's first export call and the
    * moment its end-of-pulse marker arrived.
    */
  final class TimedStream(inner: Transport.RecordStream) extends Transport.RecordStream {
    val insideNs = new ConcurrentHashMap[Long, AtomicLong]()
    val firstCall = new ConcurrentHashMap[Long, java.lang.Long]()
    val lastFrame = new ConcurrentHashMap[Long, java.lang.Long]()

    private def timed[T](pulse: Long)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally insideNs.computeIfAbsent(pulse, _ => new AtomicLong).addAndGet(System.nanoTime() - t0)
    }

    override def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
      firstCall.putIfAbsent(pulse, System.nanoTime())
      val it = timed(pulse)(inner.export(pulse, recordNumber, count))
      new Iterator[Transport.Frame] {
        override def hasNext: Boolean = timed(pulse)(it.hasNext)
        override def next(): Transport.Frame = {
          val f = timed(pulse)(it.next())
          if (f.row == null || f.recPulse != pulse || f.shouldIterateFrom.nonEmpty)
            lastFrame.putIfAbsent(pulse, System.nanoTime())
          f
        }
      }
    }
  }

  /** What a reader may ask, bounded to the pulses the poller has seen
    * fully served (their drops listed and their pulse row answered). Each
    * request but search carries its direct `Endpoints` twin.
    */
  final class Planner(feed: Feed, frontier: () => Long, rng: Random) {
    import graft.api.Endpoints
    import Endpoints.PageParams
    private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
    private val paging = new Paging(rng)
    import paging.{limit, offset}
    private val keyCache = new ConcurrentHashMap[Int, java.lang.Long]()
    private val zipfs = mutable.HashMap.empty[Int, ExplorerHttp.Zipf]
    private val cycle = new RouteCycle(rng)

    /** A seeded request over the served prefix; None before any pulse is served. */
    def next(spark: org.apache.spark.sql.SparkSession, store: String): Option[Req] = {
      val s = frontier()
      if (s < Start) return None
      val nP = ((s - Start) / Delta + 1).toInt
      val p = Start + rng.nextInt(nP) * Delta
      val jet = Jets(rng.nextInt(Jets.length))
      Some(cycle.next() match {
        case "pulses" =>
          val l = limit()
          val o = offset(nP)
          Req("pulses", s"/api/v1/pulses?limit=$l&offset=$o&pulse_number_lte=$s", Paging.check(nP, l, o),
            Some((sp, d) => Endpoints.pulses(sp, d, PageParams(l, o), toPulse = Some(s))))
        case "pulse" =>
          Req("pulse", s"/api/v1/pulses/$p",
            (st, b) => st == 200 && Http.field(b, "pulse_number").contains(p.toString),
            Some((sp, d) => Endpoints.pulse(sp, d, p)))
        case "pulse_drops" =>
          val l = limit()
          val o = offset(Jets.length)
          Req("pulse_drops", s"/api/v1/pulses/$p/jet-drops?limit=$l&offset=$o",
            Paging.check(Jets.length, l, o),
            Some((sp, d) => Endpoints.jetDropsByPulse(sp, d, p, page = PageParams(l, o))))
        case "drop" =>
          Req("drop", s"/api/v1/jet-drops/$jet:$p",
            (st, b) => st == 200 && Http.field(b, "jet_drop_id").contains(s"$jet:$p"),
            Some((sp, d) => Endpoints.jetDropById(sp, d, s"$jet:$p").get))
        case "drop_records" =>
          val total = feed.recordsPerDrop.getOrElse((p, jet), 0L)
          val l = limit()
          val o = offset(total)
          Req("drop_records", s"/api/v1/jet-drops/$jet:$p/records?limit=$l&offset=$o",
            Paging.check(total, l, o),
            Some((sp, d) => Endpoints.jetDropRecords(sp, d, s"$jet:$p", None, PageParams(l, o)).get))
        case "jet_drops" =>
          val prefix = jet.take(1 + rng.nextInt(jet.length))
          val total = nP.toLong * Jets.count(_.startsWith(prefix))
          val l = limit()
          Req("jet_drops", s"/api/v1/jets/$prefix/jet-drops?limit=$l&pulse_number_lte=$s",
            Paging.check(total, l, 0),
            Some((sp, d) => Endpoints.jetDropsByJetId(sp, d, prefix, toPulse = Some(s),
              pulseAsc = false, limit = l)))
        case "lifeline" =>
          // objects born by the frontier, oldest first, drawn by Zipf
          val known = feed.objects.indexWhere(_.statePulses.head > s) match {
            case -1 => feed.objects.length
            case i => i
          }
          val i = zipfs.getOrElseUpdate(known, new ExplorerHttp.Zipf(known, 1.1)).draw(rng)
          val o = feed.objects(i)
          val key: Long = keyCache.computeIfAbsent(i, _ => graft.model.Domain.refToKey(spark, store, o.id))
          val total = o.statePulses.count(_ <= s).toLong
          val l = limit()
          val off = offset(total)
          Req("lifeline",
            s"/api/v1/lifeline/$key/records?limit=$l&offset=$off&pulse_number_lt=${s + 1}",
            Paging.check(total, l, off),
            Some((sp, d) => Endpoints.objectLifeline(sp, d, key, asc = false, toPulse = Some(s),
              page = PageParams(l, off))))
        case "search" => // hint answers: no storage touched, so no direct twin
          if (rng.nextBoolean())
            Req("search", s"/api/v1/search?value=$p",
              (st, b) => st == 200 && Http.field(b, "type").contains("pulse"))
          else
            Req("search", s"/api/v1/search?value=${enc(s"$jet:$p")}",
              (st, b) => st == 200 && Http.field(b, "type").contains("jet-drop"))
      })
    }
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val spark = ctx.spark
    val nPulses = math.max(2, ctx.seconds / 2)
    val perPulse = if (ctx.tiny) 200 else 2000
    val t0 = System.nanoTime()
    val feed = new Feed(ctx.seed, nPulses, perPulse)
    Progress(f"generated $nPulses pulses x $perPulse records in ${(System.nanoTime() - t0) / 1e9}%.2fs")

    final class Served(val store: String, val stream: TimedStream,
        val grpc: org.sparkproject.connect.grpc.Server,
        val channel: org.sparkproject.connect.grpc.ManagedChannel,
        val daemon: graft.Ingest.Daemon, val http: graft.api.HttpApi.Handle,
        val exporter: graft.streaming.GrpcPulseExporter.Handle) {
      def stop(): Unit = {
        exporter.stop(); http.stop(); daemon.stop()
        GrpcTransport.close(channel); grpc.shutdownNow(); grpc.awaitTermination()
      }
    }
    val sc = spark.sparkContext
    def setUp(i: Int, feed: Feed, pulsePeriodMs: Long): Served = {
      val store = ctx.dir(s"store-$i").toString
      val replay = new Replay(feed)
      val grpc = org.sparkproject.connect.grpc.netty.NettyServerBuilder.forPort(0)
        .addService(GrpcTransport.recordService(replay)).build().start()
      val channel = GrpcTransport.channel("localhost", grpc.getPort)
      val stream = new TimedStream(new GrpcTransport.GrpcRecordStream(channel))
      // threads started below inherit these job groups, so Spark work is
      // attributed to the component that asked for it
      sc.setJobGroup("ingest", "ingest daemon", interruptOnCancel = false)
      val daemon = new graft.Ingest.Daemon(spark, store, stream, Start,
        graft.Ingest.Config(pulsePeriodMs = pulsePeriodMs, sequentialPeriodMs = 100L,
          headPauseMs = 100L, errorPauseMs = 200L, fetchBackoffMs = 10L))
      sc.setJobGroup("http", "explorer API", interruptOnCancel = false)
      val http = graft.api.HttpApi.start(spark, store, 0)
      sc.setJobGroup("exporter", "exporter API", interruptOnCancel = false)
      val exporter = graft.ExporterServe.bootstrap(spark, store, 0, pulsePeriodMs = 200L)
      sc.clearJobGroup()
      new Served(store, stream, grpc, channel, daemon, http, exporter)
    }
    // set-up from an empty store through the first answers: start every
    // component, ingest one pulse, wait until the API serves it, and answer
    // each route once. It is done once: a repeat in the same JVM would skip
    // the first-touch compilation a fresh server pays.
    val s0 = System.nanoTime()
    val warmFeed = new Feed(ctx.seed + 7919L, 1, perPulse)
    val warm = setUp(0, warmFeed, SetUpPeriodMs)
    try {
      sc.setJobGroup("ingest", "ingest daemon", interruptOnCancel = false)
      warm.daemon.start()
      sc.clearJobGroup()
      val client = new Http
      val base = s"http://localhost:${warm.http.port}"
      val by = System.nanoTime() + 120L * 1000000000L
      while (!Http.page(client.get(s"$base/api/v1/pulses/$Start/jet-drops?limit=100")._2)
          .exists(_._1 == Jets.length) && System.nanoTime() < by) Thread.sleep(20)
      ctx.check(System.nanoTime() < by, "set-up: the first pulse never became visible")
      while (client.get(s"$base/api/v1/pulses/$Start")._1 != 200 && System.nanoTime() < by)
        Thread.sleep(20)
      val planner = new Planner(warmFeed, () => Start, new Random(ctx.seed))
      val answered = mutable.Set.empty[String]
      while (answered.size < Routes.Names.length) planner.next(spark, warm.store).foreach { req =>
        val (st, body, _, _) = client.get(base + req.path)
        ctx.check(req.check(st, body), s"set-up ${req.path} -> $st ${body.take(160)}")
        answered += req.route
      }
    } finally warm.stop()
    val setupS = (System.nanoTime() - s0) / 1e9
    Progress(f"set-up: empty store to every route answered in $setupS%.2fs")
    ctx.report.e2e("setup_s", sessionS + setupS, "s",
      "session + empty store -> one pulse ingested, every route answered")
    val served = setUp(1, feed, MeasuredPeriodMs)
    try measure(ctx, feed, served.store, served.stream, served.daemon,
      served.http, served.exporter)
    finally served.stop()
  }

  private def measure(ctx: Ctx, feed: Feed, store: String, stream: TimedStream,
      daemon: graft.Ingest.Daemon, http: graft.api.HttpApi.Handle,
      exporter: graft.streaming.GrpcPulseExporter.Handle): Unit = {
    val spark = ctx.spark
    val base = s"http://localhost:${http.port}"
    val last = feed.pulseList.last
    val stopReaders = new AtomicBoolean(false)
    val done = new AtomicBoolean(false)
    val seqPass = new ConcurrentHashMap[Long, java.lang.Long]()
    val visible = new ConcurrentHashMap[Long, java.lang.Long]()
    val servedUpTo = new AtomicLong(Start - Delta)
    val delivered = new ConcurrentLinkedQueue[(GrpcWire.GetNextPulseResponse, Long)]()
    val samples = new ConcurrentLinkedQueue[(Sample, Req)]()
    val before = Counters.snap()
    val ph0 = ctx.counters.map(_.phases)
    val work0 = ctx.counters.map(c => (c.totals(_ => true), c.totals(_ == "ingest")))

    val monitor = thread("seq-monitor") {
      var next = Start
      while (!done.get) {
        val s = daemon.sequentialPulse
        val now = System.nanoTime()
        while (next <= s) { seqPass.putIfAbsent(next, now); next += Delta }
        Thread.sleep(2)
      }
    }
    val readers = (0 until 2).map { c =>
      thread(s"reader-$c") {
        val planner = new Planner(feed, () => servedUpTo.get, new Random(ctx.seed * 1000003L + c))
        val client = new Http
        while (!stopReaders.get) planner.next(spark, store) match {
          case None => Thread.sleep(20)
          case Some(req) =>
            val (st, body, s, e) = client.get(base + req.path)
            val ok = ctx.check(req.check(st, body), s"${req.path} -> $st ${body.take(160)}")
            ctx.trace.record(ctx.trace.newId(), 0L, s"http.${req.route}", s, e)
            samples.add((Sample(req.route, s, e, ok), req))
        }
      }
    }
    // two cursors: the next pulse whose drops should list, and the next
    // pulse whose row should answer. The pulses table is flushed on the
    // maintainer's tick, after the drops, and readers may ask about a
    // pulse once both answer. A row is asked for only while the drops of
    // the next pulse are not listed yet, and at most once a second after
    // a row was missing, so the drops are polled nearly back to back and
    // freshness is not held to the tick.
    val poller = thread("poller") {
      val client = new Http
      var vis = Start
      var row = Start
      var rowAgainAt = 0L
      while (!done.get && row <= last) {
        var listed = false
        if (vis <= last) {
          val (st, body, _, e) = client.get(s"$base/api/v1/pulses/$vis/jet-drops?limit=100")
          if (st == 200 && Http.page(body).exists(_._1 == Jets.length)) {
            visible.put(vis, e)
            ctx.trace.record(vis, 0L, "ingest.visible", stream.firstCall.getOrDefault(vis, e), e)
            vis += Delta
            listed = true
          }
        }
        if (!listed && row < vis && System.nanoTime() >= rowAgainAt) {
          if (client.get(s"$base/api/v1/pulses/$row")._1 == 200) {
            servedUpTo.set(row)
            row += Delta
          } else rowAgainAt = System.nanoTime() + 1000000000L
        }
        if (vis > last && row < vis && System.nanoTime() < rowAgainAt) Thread.sleep(20)
      }
    }
    val channel = GrpcTransport.channel("localhost", exporter.port)
    val subscriber = thread("subscriber") {
      try {
        val it = org.sparkproject.connect.grpc.stub.ClientCalls.blockingServerStreamingCall(
          channel, GrpcWire.GetNextPulseMethod, org.sparkproject.connect.grpc.CallOptions.DEFAULT,
          GrpcWire.GetNextPulseRequest(Start - Delta))
        while (it.hasNext) delivered.add((it.next(), System.nanoTime()))
      } catch { case scala.util.control.NonFatal(_) => () } // the channel closes at the end
    }

    Progress(s"ingest: daemon catching up on ${feed.pulseList.length} pulses; 2 readers, 1 poller, 1 subscriber")
    val t0 = System.nanoTime()
    spark.sparkContext.setJobGroup("ingest", "ingest daemon", interruptOnCancel = false)
    daemon.start()
    spark.sparkContext.clearJobGroup()
    Seq(monitor, poller, subscriber).foreach(_.start())
    readers.foreach(_.start())
    val by = System.nanoTime() + 120L * 1000000000L
    def settled = seqPass.containsKey(last) && servedUpTo.get == last &&
      delivered.asScala.exists(_._1.pulseNumber == last)
    while (!settled && System.nanoTime() < by) Thread.sleep(10)
    stopReaders.set(true)
    done.set(true)
    readers.foreach(_.join())
    val lastSeq = Option(seqPass.get(last)).map(_.longValue).getOrElse(System.nanoTime())
    // the daemon asks for the pulse after the last once the last is committed
    val lastCommit = Option(stream.firstCall.get(last + Delta)).map(_.longValue).getOrElse(lastSeq)
    Seq(monitor, poller).foreach(_.join())
    GrpcTransport.close(channel)
    subscriber.join()
    val after = Counters.snap()
    val ph1 = ctx.counters.map(_.phases)
    val work1 = ctx.counters.map(c => (c.totals(_ => true), c.totals(_ == "ingest")))
    Progress(f"caught up: pulse $last committed ${(lastCommit - t0) / 1e9}%.2fs and sequential " +
      f"${(lastSeq - t0) / 1e9}%.2fs after daemon start")

    val pulses = feed.pulseList
    val records = pulses.map(feed.recordsOf).sum
    endChecks(ctx, spark, store, base, daemon, pulses, records, delivered.asScala.toSeq, feed)

    val r = ctx.report
    val rate = records / ((lastCommit - t0) / 1e9)
    r.e2e("work_per_s", rate, "1/s", s"committed records per second, $records records in ${pulses.length} pulses")
    r.figure("ingest_records_per_s", rate, "rec/s", "committed records / (daemon start -> last pulse committed)")
    val served = samples.asScala.toSeq
    HttpFigures.report(ctx, served.map(_._1), primary = false)
    if (served.nonEmpty)
      Progress(f"slowest read ${served.map(_._1.ms).max}%.0f ms; the pulses table is flushed every $MeasuredPeriodMs ms")
    def firstCall(p: Long) = stream.firstCall.get(p).longValue
    val fresh = pulses.filter(visible.containsKey).map(p => (visible.get(p) - firstCall(p)) / 1e9)
    val deliveredAt = delivered.asScala.map { case (d, t) => d.pulseNumber -> t }.toMap
    val lag = pulses.filter(deliveredAt.contains).map(p => (deliveredAt(p) - firstCall(p)) / 1e9)
    Progress("per pulse: commit s " + pulses.map(p => Option(stream.firstCall.get(p + Delta))
      .map(c => f"${(c - firstCall(p)) / 1e9}%.2f").getOrElse("-")).mkString(" ") +
      "; freshness s " + fresh.map(f => f"$f%.2f").mkString(" "))
    r.figure("freshness_s", Stats.median(fresh), "s",
      s"per-pulse median, first fetch -> first HTTP answer listing its drops, n=${fresh.length}")
    // the mean, not the median: readers start only once the first pulse
    // row is flushed, on the maintainer's tick, so pulses that list after
    // it are slower than those before, and a median of six moves with
    // where that step falls (over ten seeds at a 5 s tick its spread was
    // 0.17 of the median, the mean's 0.10)
    r.e2e("latency_ms", fresh.sum / math.max(1, fresh.length) * 1e3, "ms",
      s"freshness: per-pulse mean, first fetch -> first HTTP answer listing its drops, n=${fresh.length}")
    r.figure("exporter_lag_s", Stats.median(lag), "s",
      s"per-pulse median, first fetch -> subscriber receives it, n=${lag.length}")
    if (ctx.traced) {
      def at(m: ConcurrentHashMap[Long, java.lang.Long], p: Long): Option[Long] =
        Option(m.get(p)).map(_.longValue)
      val spans = pulses.flatMap { p =>
        val f = firstCall(p)
        at(stream.lastFrame, p).map { lf =>
          val commitEnd = at(stream.firstCall, p + Delta).getOrElse(lf)
          val sq = at(seqPass, p)
          ctx.trace.record(p, 0L, "ingest.fetch", f, lf)
          ctx.trace.record(p, 0L, "ingest.commit", lf, commitEnd)
          sq.foreach(t => ctx.trace.record(p, 0L, "ingest.sequential", commitEnd, t))
          deliveredAt.get(p).foreach(d => ctx.trace.record(p, 0L, "exporter.delivery", f, d))
          (stream.insideNs.get(p).get / 1e6, (commitEnd - lf) / 1e6,
            sq.map(t => (t - commitEnd) / 1e6),
            for (t <- sq; d <- deliveredAt.get(p)) yield (d - t) / 1e6)
        }
      }
      val moves = "ingest_records_per_s, freshness_s"
      r.layer("ingest.fetch_ms", Stats.median(spans.map(_._1)), "ms", s"per-pulse median; $moves")
      r.layer("ingest.commit_ms", Stats.median(spans.map(_._2)), "ms", s"per-pulse median; $moves")
      r.layer("ingest.seq_lag_ms", HttpFigures.nz(Stats.median(spans.flatMap(_._3))), "ms",
        "commit -> sequential mark passes it; exporter_lag_s")
      r.layer("exporter.own_ms", HttpFigures.nz(Stats.median(spans.flatMap(_._4))), "ms",
        "sequential mark passes pulse -> subscriber receives it; exporter_lag_s")
      val work = work1.get._2 - work0.get._2
      val fs = Counters.diff(before, after)
      r.layer("ingest.jobs_per_pulse", work.jobs.toDouble / pulses.length, "count", moves)
      r.layer("ingest.write_mb_per_pulse", fs.bytesWritten / 1e6 / pulses.length, "MB", moves)
      val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      val nFiles = try dataFiles.iterator.asScala.count(_.toString.endsWith(".parquet")) finally dataFiles.close()
      r.layer("ingest.files_per_pulse", nFiles.toDouble / pulses.length, "count",
        s"parquet files in the store, every generation; $moves")
      val (kb, files) = storeFootprint(spark, store)
      r.layer("store.manifest_kb", kb, "KB", "latest manifests of the three tables; http_p50_ms")
      r.layer("store.live_files", files.toDouble, "count", "files the latest manifests list; http_p50_ms")
      val server = Http.serverTimes(new Http().get(base + "/metrics")._2)
      // replayed after the load, on a store no longer being written
      val direct = ExplorerHttp.directReplay(ctx, store, served.map(_._2))
      HttpFigures.layers(ctx, served.map(_._1), server, direct.map(_._2))
      Phases.layers(ctx, direct.map(_._2), pulses.length, ph1.get - ph0.get, fs, work1.get._1 - work0.get._1,
        "ingest_records_per_s, http_p50_ms")
    }
  }

  private def endChecks(ctx: Ctx, spark: org.apache.spark.sql.SparkSession, store: String,
      base: String, daemon: graft.Ingest.Daemon, pulses: Seq[Long], records: Long,
      delivered: Seq[(GrpcWire.GetNextPulseResponse, Long)], feed: Feed): Unit = {
    val stored = graft.model.Domain.servedRecords(spark, store).count()
    val want = records + (if (ctx.corrupt) 1 else 0)
    ctx.check(stored == want, s"store holds $stored records, expected $want")
    val snap = daemon.snapshot
    ctx.check(pulses.forall(p => snap.get(p).exists(e => e.complete && e.sequential)),
      s"not every fed pulse is complete and sequential: ${pulses.filterNot(p =>
        snap.get(p).exists(e => e.complete && e.sequential)).take(5)}")
    val total = Http.page(new Http().get(s"$base/api/v1/pulses?limit=1")._2).map(_._1)
    ctx.check(total.contains(pulses.length.toLong), s"/api/v1/pulses total $total, fed ${pulses.length}")
    val got = delivered.map(_._1)
    val chain = pulses.map(p => (p, p - Delta, feed.recordsOf(p).toLong))
    ctx.check(got.map(d => (d.pulseNumber, d.prevPulseNumber, d.recordAmount)) == chain,
      s"exporter delivered ${got.take(3)}..., want ${chain.take(3)}... (${got.length} vs ${chain.length})")
  }

  /** (manifest KB, live files) over the store's tables, from their latest manifests. */
  private def storeFootprint(spark: org.apache.spark.sql.SparkSession, store: String): (Double, Long) = {
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("records", "jet_drops", "pulses").foldLeft((0.0, 0L)) { case ((kb, n), t) =>
      val table = s"$store/$t"
      val files = graft.ingest.TableManifest.latest(fs, table).map(_.files(table).length).getOrElse(0)
      val mdir = new org.apache.hadoop.fs.Path(table, "_manifests")
      val newest = if (!fs.exists(mdir)) 0L
        else fs.listStatus(mdir).filter(_.isFile).sortBy(_.getModificationTime).lastOption.map(_.getLen).getOrElse(0L)
      (kb + newest / 1e3, n + files)
    }
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, s"perfbench-$name")
    t.setDaemon(true)
    t
  }
}
