package graft.ingest

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.sparkproject.connect.grpc.Server
import org.sparkproject.connect.grpc.netty.NettyServerBuilder

import graft.{CountingFileSystem, Ingest, SparkSpec}
import graft.gen.Fixtures

/** The ingest daemon (`graft.Ingest`, the `cmd/block-explorer/main.go`
  * analog) against a LIVE netty exporter replaying a multi-pulse fixture
  * — the heavymock integration shape (`test/heavymock/exporter_impl.go:
  * 28-50` + the `test/integration` suite): follow the feed head over the real
  * gRPC wire, kill and restart the exporter mid-feed, and assert the
  * three tables converge to complete + sequential.
  */
class IngestServeSpec extends SparkSpec {

  private val start = Fixtures.GenesisPulse + Fixtures.PulseDelta
  private val delta = Fixtures.PulseDelta

  /** Tight cadences so convergence is test-speed; semantics unchanged. */
  private val fastCfg = Ingest.Config(
    pulsePeriodMs = 150L, sequentialPeriodMs = 50L, headPauseMs = 100L,
    errorPauseMs = 100L, batchSize = 7, fetchBackoffMs = 5L)

  private def bindOn(port: Int, stream: Transport.RecordStream): Server =
    NettyServerBuilder.forPort(port)
      .addService(GrpcTransport.recordService(stream)).build().start()

  // 90 s, not 30: under a FULL-SUITE run on a contended box the live
  // daemon's first two pulses were observed to need >30 s once (r17 —
  // the same test passes in isolation in seconds); the poll returns the
  // moment the condition holds, so a healthy run never waits longer.
  private def await(deadlineMs: Long = 90000L)(cond: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    while (!cond && (System.nanoTime() - t0) / 1e6 < deadlineMs) Thread.sleep(50)
    cond
  }

  private def pulsesSnapshot(base: String): Option[TableManifest.Snapshot] =
    TableManifest.latest(new org.apache.hadoop.fs.Path(s"$base/pulses")
      .getFileSystem(spark.sparkContext.hadoopConfiguration), s"$base/pulses")

  test("daemon follows the feed over the wire, survives an exporter kill+restart, " +
      "and converges all three tables to complete+sequential") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon").toString
    val nPulses = 5
    // jets {"0","1"} form a full binary-tree cover → every pulse completes
    val wire = Fixtures.multiPulseBatches(spark, nPulses, recordsPerPulse = 12,
      startPulse = start)
    // phase 1 serves only the first two pulses (the live head), so the
    // kill deterministically lands mid-feed with three pulses outstanding
    val headAtKill = new ReplayExporter(wire.filter(
      col("pulse_number") < start + 2 * delta))
    val replay = new ReplayExporter(wire)

    var server = bindOn(0, headAtKill)
    val port = server.getPort
    val handle = Ingest.bootstrap(spark, base, "localhost", port, start, fastCfg)
    try {
      // the follower ingests the two served pulses, then head-polls
      assert(await()(handle.daemon.ingestedCount == 2),
        s"daemon never got going: ${handle.daemon.snapshot.keySet}")
      assert(await()(handle.daemon.cursor == start + 2 * delta))

      // kill the exporter mid-feed: the follower's fetch exhausts its
      // reopen budget, holds the cursor, and retries after a pause
      server.shutdownNow()
      server.awaitTermination(5, TimeUnit.SECONDS)
      Thread.sleep(400) // several follower error-pauses with the wire down
      assert(handle.daemon.cursor == start + 2 * delta,
        "cursor must not advance past unfetched pulses while the exporter is down")

      // restart on the SAME port with the full feed: the managed channel
      // reconnects, the portion protocol resumes at the cursor
      server = bindOn(port, replay)
      assert(await()(handle.daemon.ingestedCount == nPulses),
        s"daemon never converged: ${handle.daemon.snapshot.keySet}")

      // the maintainer marks covers complete; the sequencer chains the
      // high-water mark through all five pulses
      assert(await()(handle.daemon.sequentialPulse == start + (nPulses - 1) * delta),
        s"sequencer stalled at ${handle.daemon.sequentialPulse}: ${handle.daemon.snapshot}")
    } finally {
      handle.stop()
      server.shutdownNow()
      server.awaitTermination(5, TimeUnit.SECONDS)
    }

    // ---- the three tables converged on disk ----------------------------
    val records = storeTable(base, "records")
    assert(records.count() == nPulses * 12L)
    assert(records.select("pulse_number").distinct().count() == nPulses.toLong)
    val drops = storeTable(base, "jet_drops")
    assert(drops.count() == nPulses * 2L) // 2 jets per pulse
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.length == nPulses)
    assert(pulses.forall(_.getAs[Boolean]("is_complete")), "every cover is full")
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")), "chain is gapless")
    assert(pulses.map(_.getAs[Long]("record_amount")).forall(_ == 12L))
    // chain links are consistent: each prev points at the predecessor
    val pns = pulses.map(_.getAs[Long]("pulse_number"))
    val prevs = pulses.map(_.getAs[Long]("prev_pulse_number"))
    assert(pns.toSeq == (0 until nPulses).map(start + _ * delta))
    assert(prevs.drop(1).toSeq == pns.dropRight(1).toSeq)
  }

  test("a restarted daemon seeds from the persisted store and extends it — no truncation") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-restart").toString
    val nPulses = 5
    val wire = Fixtures.multiPulseBatches(spark, nPulses, recordsPerPulse = 6,
      startPulse = start)

    // life 1: only the first two pulses exist; ingest them and shut down
    val head2 = new ReplayExporter(wire.filter(col("pulse_number") < start + 2 * delta))
    val s1 = bindOn(0, head2)
    val h1 = Ingest.bootstrap(spark, base, "localhost", s1.getPort, start, fastCfg)
    try {
      assert(await()(h1.daemon.ingestedCount == 2 &&
        h1.daemon.sequentialPulse == start + delta))
    } finally {
      h1.stop()
      s1.shutdownNow(); s1.awaitTermination(5, TimeUnit.SECONDS)
    }

    // life 2: a NEW daemon on the same store against the full feed must
    // SEED from the persisted pulses/jet_drops (resuming the cursor past
    // the known head and the sequential mark), then extend the history —
    // never truncate it
    val full = new ReplayExporter(wire)
    val s2 = bindOn(0, full)
    val h2 = Ingest.bootstrap(spark, base, "localhost", s2.getPort, start, fastCfg)
    try {
      assert(await()(h2.daemon.ingestedCount == nPulses &&
        h2.daemon.sequentialPulse == start + (nPulses - 1) * delta),
        s"restarted daemon never converged: ${h2.daemon.snapshot.keySet}")
      // the seeded cursor resumed PAST the persisted head: the two
      // life-1 pulses are closed (complete+sequential) and must never be
      // re-fetched by the follower, the maintainer, or the sequencer
      assert(!full.probedPulses.exists(_ < start + 2 * delta),
        s"restart re-fetched persisted pulses: ${full.probedPulses.distinct.sorted}")
    } finally {
      h2.stop()
      s2.shutdownNow(); s2.awaitTermination(5, TimeUnit.SECONDS)
    }

    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.length == nPulses,
      "life-1 pulses must survive life 2 — restart must not truncate the dimension")
    assert(pulses.forall(_.getAs[Boolean]("is_complete")))
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    val pns = pulses.map(_.getAs[Long]("pulse_number"))
    assert(pns.toSeq == (0 until nPulses).map(start + _ * delta))
    assert(storeTable(base, "records").count() == nPulses * 6L)
  }

  test("restart with an OPEN pulse: the seeded register reloads its jet cover " +
      "from the drops table and heals it, preserving closed pulses' counters") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-openrestart").toString
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 3, recordsPerPulse = 8,
      startPulse = start)
    // life 1: pulse 0 full, pulse 1 served WITHOUT jet "1" (incomplete
    // cover), nothing beyond — then shut down with pulse 1 still open
    val p1 = start + delta
    val half = new ReplayExporter(wire.filter(col("pulse_number") < start + 2 * delta)
      .filter(col("pulse_number") =!= p1 || col("jet_id") === "0"))
    val s1 = bindOn(0, half)
    val h1 = Ingest.bootstrap(spark, base, "localhost", s1.getPort, start, fastCfg)
    try {
      assert(await()(h1.daemon.ingestedCount == 2 &&
        h1.daemon.sequentialPulse == start),
        s"life 1 never settled: ${h1.daemon.snapshot}")
    } finally {
      h1.stop()
      s1.shutdownNow(); s1.awaitTermination(5, TimeUnit.SECONDS)
    }
    assert(!storeTable(base, "pulses")
      .filter(col("pulse_number") === p1).collect().head.getAs[Boolean]("is_complete"),
      "life 1 must persist pulse 1 as incomplete")

    // life 2: full feed. Seeding must read pulse 1's partial jet cover
    // back from the (pulse-partitioned) drops table — the maintainer
    // then re-requests it, completes the cover, and the feed extends
    val s2 = bindOn(0, new ReplayExporter(wire))
    val h2 = Ingest.bootstrap(spark, base, "localhost", s2.getPort, start, fastCfg)
    try {
      assert(await()(h2.daemon.sequentialPulse == start + 2 * delta),
        s"open pulse never healed after restart: ${h2.daemon.snapshot}")
    } finally {
      h2.stop()
      s2.shutdownNow(); s2.awaitTermination(5, TimeUnit.SECONDS)
    }
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.length == 3)
    assert(pulses.forall(_.getAs[Boolean]("is_complete")))
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    // the CLOSED pulse 0 was rewritten when its bucket flushed in life 2:
    // its persisted drop count must survive (the register carries the
    // counter independently of the never-reloaded cover set)
    assert(pulses.map(_.getAs[Int]("jet_drop_amount")).toSeq == Seq(2, 2, 2),
      s"closed-pulse counters corrupted: ${pulses.mkString(", ")}")
    assert(storeTable(base, "records")
      .filter(col("pulse_number") === p1).count() == 8L,
      "the healed pulse's partition holds the full record set")
  }

  test("chaos feed: random drops and rate limits plus a redirect hole still " +
      "converge to the exact store, chained across the hole") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-chaos").toString
    // pulses 0,1,2,5 exist; 3,4 never did — the exporter redirects the
    // cursor from 2 straight to 5 (ShouldIterateFrom), like a platform
    // skipping empty pulses. The chain must link 5's prev to 2 and the
    // sequencer must advance across the hole without re-requesting it.
    val delta5 = 5 * delta
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 3, recordsPerPulse = 10,
      startPulse = start)
      .union(Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 10,
        startPulse = start + delta5))
    val inner = new ReplayExporter(wire,
      iterateFromOverride = Map((start + 2 * delta) -> (start + delta5)))
    // seeded chaos on every portion open: rate-limit or drop the stream
    // mid-portion; fetchPulse's reopen budget resets on progress, so an
    // arbitrarily flaky feed that still trickles forward must converge
    val rnd = new scala.util.Random(1117)
    val chaotic = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        rnd.synchronized(rnd.nextInt(10)) match {
          case 0 | 1 => throw new Transport.RateLimited("chaos 429")
          case 2 => throw new Transport.StreamDropped("chaos drop at open")
          case 3 =>
            val it = inner.export(pulse, recordNumber, count)
            // one frame, then the connection dies mid-portion
            it.take(1) ++ { throw new Transport.StreamDropped("chaos drop mid-portion") }
          case _ => inner.export(pulse, recordNumber, count)
        }
    }
    val server = bindOn(0, chaotic)
    val handle = Ingest.bootstrap(spark, base, "localhost", server.getPort, start, fastCfg)
    try {
      assert(await(60000L)(handle.daemon.sequentialPulse == start + delta5),
        s"chaos feed never converged: ${handle.daemon.snapshot}")
    } finally {
      handle.stop()
      server.shutdownNow(); server.awaitTermination(5, TimeUnit.SECONDS)
    }
    val records = storeTable(base, "records")
    assert(records.count() == 40L, "no loss, no duplication under chaos")
    assert(records.select("pulse_number").distinct().count() == 4L)
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.length == 4)
    assert(pulses.forall(_.getAs[Boolean]("is_complete")))
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    assert(pulses.last.getAs[Long]("prev_pulse_number") == start + 2 * delta,
      "the redirect hole must chain prev(5) -> 2, not to a nonexistent pulse")
  }

  test("the daemon honors ShouldIterateFrom: redirected-past pulses are never " +
      "requested, not even by the sequencer's gap reload") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-redirect").toString
    // the exporter's chain jumps start → start+3δ: the two middle pulses
    // do not exist anywhere, and the redirect says so up front
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 4, recordsPerPulse = 6,
        startPulse = start)
      .filter(col("pulse_number").isin(start, start + 3 * delta))
    val inner = new ReplayExporter(wire,
      iterateFromOverride = Map(start -> (start + 3 * delta)))
    // start+3δ first serves half its jet cover, so the sequencer stalls
    // at start with start+3δ open until the maintainer's re-request
    // completes it — the window in which its gap reload looks at the
    // skipped range
    val halfOnce = new ReplayExporter(wire.filter(col("jet_id") === "0"))
    val served = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stream = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        if (pulse == start + 3 * delta && served.add(pulse))
          halfOnce.export(pulse, recordNumber, count)
        else inner.export(pulse, recordNumber, count)
    }
    val daemon = new Ingest.Daemon(spark, base, stream, start, fastCfg).start()
    try {
      assert(await()(daemon.sequentialPulse == start + 3 * delta),
        s"the daemon never crossed the redirect: ${daemon.snapshot}")
      // further sequencer and maintainer ticks must not reach into the hole
      Thread.sleep(10 * fastCfg.pulsePeriodMs)
    } finally daemon.stop()
    assert(!inner.probedPulses.exists(p => p == start + delta || p == start + 2 * delta),
      s"redirected-past pulses must never be requested, probed: ${inner.probedPulses.distinct.sorted}")
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.map(_.getAs[Long]("pulse_number")).toSeq == Seq(start, start + 3 * delta))
    assert(pulses.last.getAs[Long]("prev_pulse_number") == start,
      "the redirect must chain prev(start+3δ) -> start")
    assert(storeTable(base, "records").count() == 12L)
  }

  test("a non-advancing iterate-from hint falls back to delta stepping, and an " +
      "unredirected hole is crossed without inventing a pulse for it") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-selfhint").toString
    // a hole with NO redirect (start+δ simply absent) and a hint on the
    // first pulse that fails to advance (points at itself)
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 3, recordsPerPulse = 6,
        startPulse = start)
      .filter(col("pulse_number") =!= (start + delta))
    val inner = new ReplayExporter(wire, iterateFromOverride = Map(start -> start))
    // a fetch opens its first portion at record 0; later portions resume
    // at the cursor, so this counts fetches of the pulse, not portions
    val fetches = new java.util.concurrent.atomic.AtomicInteger
    val counting = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        if (pulse == start && recordNumber == 0) fetches.incrementAndGet()
        inner.export(pulse, recordNumber, count)
      }
    }
    val daemon = new Ingest.Daemon(spark, base, counting, start, fastCfg).start()
    try {
      assert(await()(daemon.sequentialPulse == start + 2 * delta),
        s"a self-pointing hint must not stall the follower: ${daemon.snapshot}")
      Thread.sleep(10 * fastCfg.pulsePeriodMs)
      assert(fetches.get == 1,
        s"the self-pointing pulse must be fetched once, fetched ${fetches.get} times")
    } finally daemon.stop()
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.map(_.getAs[Long]("pulse_number")).toSeq == Seq(start, start + 2 * delta),
      "the absent pulse stays absent")
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    assert(storeTable(base, "records").count() == 12L)
  }

  test("a pulses dimension that outgrew its bucket span re-buckets at the " +
      "extent-sized span on seed — rows intact, flushes address the coarse " +
      "dirs, and the full-read migration does not stay resident") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-rebucket").toString
    // span 10 = one pulse per bucket; re-bucket past 4 dirs — unit-scale
    // versions of the production (100000, 64)
    val cfg = fastCfg.copy(flushBucketSpan = 10L, maxPulseBuckets = 4)
    val nLife1 = 8
    val nTotal = 10
    val wire = Fixtures.multiPulseBatches(spark, nTotal, recordsPerPulse = 6,
      startPulse = start)

    // life 1: 8 pulses at the fine span → 8 bucket dirs (> maxPulseBuckets;
    // coarsening happens only at seed, so a RUNNING daemon keeps its span)
    val head8 = new ReplayExporter(wire.filter(col("pulse_number") < start + nLife1 * delta))
    val s1 = bindOn(0, head8)
    val h1 = Ingest.bootstrap(spark, base, "localhost", s1.getPort, start, cfg)
    try assert(await()(h1.daemon.sequentialPulse == start + (nLife1 - 1) * delta))
    finally { h1.stop(); s1.shutdownNow(); s1.awaitTermination(5, TimeUnit.SECONDS) }
    // the committed layout: a re-bucketing keeps the superseded fine
    // files on disk for the retention window, so the directory listing
    // is not the layout
    def bucketDirs() = pulsesSnapshot(base).toSeq.flatMap(_.partitions.keys).sorted
    assert(bucketDirs().length == nLife1, s"fixture needs $nLife1 fine dirs: ${bucketDirs().toSeq}")

    // life 2: seed detects 8 > 4 dirs → one re-bucketing commit at
    // spanForExtent (10 → 100 here), then the daemon extends the feed
    val s2 = bindOn(0, new ReplayExporter(wire))
    val h2 = Ingest.bootstrap(spark, base, "localhost", s2.getPort, start, cfg)
    try {
      val expectedSpan = Ingest.spanForExtent(start, start + (nLife1 - 1) * delta,
        cfg.flushBucketSpan, cfg.maxPulseBuckets)
      val coarseDirs = (start / expectedSpan to
        (start + (nTotal - 1) * delta) / expectedSpan).map(b => s"pulse_bucket=$b")
      // the re-bucketing is a manifest commit: the coarse dimension is
      // served from its own snapshot before any flush of this life
      val migratedSnap = pulsesSnapshot(base)
      assert(migratedSnap.exists(_.partitions.keySet == coarseDirs.toSet),
        s"the re-bucketed table must commit its coarse dirs: $migratedSnap")
      assert(await()(h2.daemon.sequentialPulse == start + (nTotal - 1) * delta),
        s"daemon never converged after re-bucketing: ${h2.daemon.snapshot.keySet}")
      val dirs = bucketDirs()
      assert(dirs.length <= cfg.maxPulseBuckets && dirs.length < nLife1,
        s"re-bucketing must coarsen the layout: ${dirs.toSeq}")
      assert(dirs.toSeq == coarseDirs,
        s"post-restart flushes must land in the SAME coarse dirs: ${dirs.toSeq}")
      // the committed summary carries the new span (the next restart's
      // flushes must keep addressing these dirs)
      val summary = pulsesSnapshot(base).flatMap(_.summary)
      assert(summary.exists(_.span == expectedSpan),
        s"the manifest must carry the adopted span: $summary")
      // the re-bucketing full read was evicted back to the frontier
      assert(h2.daemon.ingestedCount < nLife1,
        s"closed history must not stay resident after the re-bucketing: " +
          s"${h2.daemon.ingestedCount} entries")
    } finally {
      h2.stop(); s2.shutdownNow(); s2.awaitTermination(5, TimeUnit.SECONDS)
    }
    // every row survived, chain and flags intact, under the coarse layout
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.length == nTotal)
    assert(pulses.forall(_.getAs[Boolean]("is_complete")))
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    assert(pulses.map(_.getAs[Long]("record_amount")).forall(_ == 6L))
    val pns = pulses.map(_.getAs[Long]("pulse_number"))
    assert(pns.toSeq == (0 until nTotal).map(start + _ * delta))

    // ---- life 3: the newest manifest has NO summary (the shape a
    // pulses table written before summaries existed has). The seed must
    // RECOVER the coarse span from the committed layout — a restart that
    // fell back to the config base span would flush fine-span sibling
    // dirs next to the live coarse partitions (duplicate rows) and
    // record a fine-units frontier that makes the next bounded seed
    // prune every coarse dir.
    val expectedSpan2 = Ingest.spanForExtent(start, start + (nLife1 - 1) * delta,
      cfg.flushBucketSpan, cfg.maxPulseBuckets)
    val newest = pulsesSnapshot(base).get
    val manifest = new org.apache.hadoop.fs.Path(
      f"$base/pulses/_manifests/v${newest.version}%019d.json")
    val out = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration).create(manifest, true)
    try out.write(TableManifest.render(newest.copy(summary = None)).getBytes("UTF-8"))
    finally out.close()
    assert(pulsesSnapshot(base).exists(_.summary.isEmpty), "fixture needs a summary-less manifest")
    val nTotal3 = 12
    val wire3 = Fixtures.multiPulseBatches(spark, nTotal3, recordsPerPulse = 6,
      startPulse = start)
    val s3 = bindOn(0, new ReplayExporter(wire3))
    val h3 = Ingest.bootstrap(spark, base, "localhost", s3.getPort, start, cfg)
    try {
      assert(await()(h3.daemon.sequentialPulse == start + (nTotal3 - 1) * delta),
        s"daemon never converged after summary loss: ${h3.daemon.snapshot.keySet}")
      val dirs = bucketDirs()
      // UPPER bound: a span-recovery regression flushes the new pulses
      // at the fine config span, whose bucket values are ~10x the
      // coarse ones — a lower bound could never catch that
      assert(dirs.forall(_.stripPrefix("pulse_bucket=").toLong <=
          (start + (nTotal3 - 1) * delta) / expectedSpan2) &&
          dirs.length <= cfg.maxPulseBuckets,
        s"flushes after summary loss must keep addressing the coarse dirs: ${dirs.toSeq}")
      // the recovery full read must not stay resident either (the same
      // open-frontier contract the re-bucketing honors)
      assert(h3.daemon.ingestedCount < nLife1,
        s"summary-loss recovery left closed history resident: " +
          s"${h3.daemon.ingestedCount} entries")
      // only a maintainer flush writes the summary, and the sequential
      // mark can pass before the tick that flushes it
      assert(await()(pulsesSnapshot(base).flatMap(_.summary).exists(_.span == expectedSpan2)),
        "the recovered span must be re-persisted by the next flush")
    } finally {
      h3.stop(); s3.shutdownNow(); s3.awaitTermination(5, TimeUnit.SECONDS)
    }
    val pulses3 = storeTable(base, "pulses").collect()
    assert(pulses3.length == nTotal3, s"duplicate or lost rows after span " +
      s"recovery: ${pulses3.length} rows for $nTotal3 pulses")
    assert(pulses3.map(_.getAs[Long]("pulse_number")).distinct.length == nTotal3)
  }

  test("a re-bucketing that died before its publish is redone at the next start") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 6,
      startPulse = start)
    // span 10 = one pulse per bucket; re-bucket past 1 dir, so the two
    // pulses' fine layout (2 dirs) re-buckets to the coarse span (1 dir)
    val cfg = fastCfg.copy(flushBucketSpan = 10L, maxPulseBuckets = 1)
    val coarse = Ingest.spanForExtent(start, start + delta,
      cfg.flushBucketSpan, cfg.maxPulseBuckets)
    val pulseRows = Seq(
      StorePulse(start, start - delta, start + delta, true, true, 2, 6L),
      StorePulse(start + delta, start, start + 2 * delta, true, true, 2, 6L))
    val base = java.nio.file.Files.createTempDirectory("graft-rebucket-crash").toString
    (0 until 2).foreach { i =>
      PulseWriter.commitPulse(wire.filter(col("pulse_number") === start + i * delta), base)
    }
    writeStorePulses(base, pulseRows, span = cfg.flushBucketSpan)
    assert(pulsesSnapshot(base).exists(_.partitions.size == 2), "fixture needs 2 fine dirs")
    // the on-disk state of a re-bucketing that wrote its coarse file into
    // the live table and died before publishing the manifest naming it
    val coarseDir = s"pulse_bucket=${start / coarse}"
    val scratch = java.nio.file.Files.createTempDirectory("graft-rebucket-staged").toString
    writeStorePulses(scratch, pulseRows, span = coarse)
    val written = pulsesSnapshot(scratch).get.partitions(coarseDir).head
    val orphan = java.nio.file.Paths.get(s"$base/pulses/$coarseDir/$written")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$scratch/pulses/$coarseDir/$written"), orphan)

    val s1 = bindOn(0, new ReplayExporter(wire))
    val h1 = Ingest.bootstrap(spark, base, "localhost", s1.getPort, start, cfg)
    try {
      assert(!java.nio.file.Files.exists(orphan),
        "the start must delete the unpublished re-bucketing's file")
      val snap = pulsesSnapshot(base)
      assert(snap.exists(_.partitions.keySet == Set(coarseDir)),
        s"the re-run must commit the coarse layout: $snap")
      assert(!snap.exists(_.partitions(coarseDir).contains(written)))
      assert(snap.flatMap(_.summary).exists(_.span == coarse), s"summary: $snap")
      val rec = storeTable(base, "pulses").orderBy("pulse_number").collect()
      assert(rec.map(_.getAs[Long]("pulse_number")).toSeq == Seq(start, start + delta))
      assert(rec.forall(r => r.getAs[Boolean]("is_complete") && r.getAs[Boolean]("is_sequential")))
      assert(rec.map(_.getAs[Long]("record_amount")).toSeq == Seq(6L, 6L))
      // the re-bucketed dimension SEEDED the register: both pulses known,
      // cursor resumed past them, nothing re-fetched
      assert(h1.daemon.ingestedCount == 2)
      assert(h1.daemon.cursor == start + 2 * delta)
    } finally {
      h1.stop(); s1.shutdownNow(); s1.awaitTermination(5, TimeUnit.SECONDS)
    }
  }

  test("re-bucketing commits a newer pulses version; reads resolved before it stay whole") {
    // span 10 = one pulse per bucket; re-bucket past 1 dir
    val cfg = fastCfg.copy(flushBucketSpan = 10L, maxPulseBuckets = 1)
    val base = java.nio.file.Files.createTempDirectory("graft-rebucket-retain").toString
    val rows = (0 until 3).map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, true, true, 0, 0L)
    }
    writeStorePulses(base, rows.take(2), span = cfg.flushBucketSpan)
    writeStorePulses(base, rows.drop(2), span = cfg.flushBucketSpan)
    val before = pulsesSnapshot(base).get
    assert(before.version == 2 && before.partitions.size == 3, s"fixture: $before")
    val resolved = storeTable(base, "pulses")
    val headOnly = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        throw new Transport.PulseNotFound(pulse)
    }
    val d = new Ingest.Daemon(spark, base, headOnly, start, cfg).start()
    val after = try pulsesSnapshot(base).get finally d.stop()
    // the re-bucketing is the next version of the SAME manifest sequence,
    // so no version-keyed cache can mistake it for an older one
    assert(after.version > before.version, s"$before -> $after")
    val coarse = Ingest.spanForExtent(start, start + 2 * delta,
      cfg.flushBucketSpan, cfg.maxPulseBuckets)
    assert(after.partitions.keySet == Set(s"pulse_bucket=${start / coarse}"),
      s"coarse layout expected: $after")
    // the fine files are tombstones under retention, so the frame
    // resolved before the re-bucketing still reads every row
    val fine = before.partitions.toSeq.flatMap { case (k, fs) => fs.map(f => s"$k/$f") }
    assert(fine.toSet.subsetOf(after.tombstones.map(_.file).toSet),
      s"tombstones: ${after.tombstones}")
    assert(resolved.collect().map(_.getAs[Long]("pulse_number")).sorted.toSeq ==
      rows.map(_.pulse))
  }

  test("a staged pulses sibling left by an older build fails the start, naming it") {
    val base = java.nio.file.Files.createTempDirectory("graft-rebucket-sibling").toString
    writeStorePulses(base, Seq(StorePulse(start, start - delta, start + delta, true, true, 0, 0L)))
    val sibling = new java.io.File(s"$base/pulses_migrating")
    assert(sibling.mkdirs())
    val headOnly = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        throw new Transport.PulseNotFound(pulse)
    }
    val d = new Ingest.Daemon(spark, base, headOnly, start, fastCfg)
    val e = intercept[IllegalStateException](d.start())
    assert(e.getMessage.contains(s"$base/pulses_migrating"), e.getMessage)
    assert(d.ingestedCount == 0, "nothing may seed beside the sibling")
    assert(sibling.exists(), "the start must not touch the sibling")
  }

  test("restart resume at a historical hole: the follower probes forward past " +
      "prolonged NOT_FOUND instead of head-polling a nonexistent pulse forever") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-hole").toString
    // pulses 0, 1 and 4 exist; 2 and 3 NEVER did. Life 1 learns 0 and 1
    // and crashes before acting on the exporter's redirect — so the
    // resumed cursor (maxKnown + delta) points INTO the hole, where the
    // exporter answers NOT_FOUND forever (holes never backfill) and the
    // sequencer's gap reload can't help because no later pulse is known.
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 6,
      startPulse = start)
      .union(Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 6,
        startPulse = start + 4 * delta))
    val life1 = new ReplayExporter(wire.filter(col("pulse_number") < start + 2 * delta))
    val s1 = bindOn(0, life1)
    val h1 = Ingest.bootstrap(spark, base, "localhost", s1.getPort, start, fastCfg)
    try assert(await()(h1.daemon.ingestedCount == 2 &&
      h1.daemon.sequentialPulse == start + delta))
    finally { h1.stop(); s1.shutdownNow(); s1.awaitTermination(5, TimeUnit.SECONDS) }

    val s2 = bindOn(0, new ReplayExporter(wire))
    val h2 = Ingest.bootstrap(spark, base, "localhost", s2.getPort, start, fastCfg)
    try {
      // the seeded cursor is maxKnown + delta = start + 2δ — the hole.
      // (Not asserted live: the probe may have already advanced it.)
      // The probe finds pulse 4, commits it chained across the hole, and
      // the sequencer advances over the chain link — no pulse is invented
      // for the hole itself
      assert(await()(h2.daemon.sequentialPulse == start + 4 * delta),
        s"follower never escaped the hole: cursor=${h2.daemon.cursor}, " +
          s"known=${h2.daemon.snapshot.keySet}")
    } finally {
      h2.stop(); s2.shutdownNow(); s2.awaitTermination(5, TimeUnit.SECONDS)
    }
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.map(_.getAs[Long]("pulse_number")).toSeq ==
      Seq(start, start + delta, start + 4 * delta))
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    assert(pulses.last.getAs[Long]("prev_pulse_number") == start + delta,
      "the probed pulse must chain across the hole, not to a nonexistent pulse")
  }

  test("soak: 21 pulses with holes, partial covers, and a mid-feed daemon restart " +
      "converge exactly, with the open frontier bounded throughout") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-soak").toString
    // slots 0..24 with holes at {5,6,13,20} (never exist; the exporter
    // redirects across them) → 21 real pulses. Pulses at slots 8 and 15
    // first serve HALF their cover, so the maintainer must re-request
    // them (duplicate replays over the same partitions — the idempotent
    // overwrite path) while the feed keeps moving.
    val holes = Set(5, 6, 13, 20)
    val slots = (0 to 24).filterNot(holes)
    val wire = slots.map(i => Fixtures.multiPulseBatches(spark, 1, recordsPerPulse = 8,
      startPulse = start + i * delta)).reduce(_ union _)
    val redirects = Map(
      (start + 4 * delta) -> (start + 7 * delta),
      (start + 12 * delta) -> (start + 14 * delta),
      (start + 19 * delta) -> (start + 21 * delta))
    val inner = new ReplayExporter(wire, iterateFromOverride = redirects)
    val halves = Set(start + 8 * delta, start + 15 * delta)
    val healed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val halfOnce = new ReplayExporter(wire.filter(col("jet_id") === "0"))
    val flaky = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        if (halves.contains(pulse) && healed.add(pulse)) halfOnce.export(pulse, recordNumber, count)
        else inner.export(pulse, recordNumber, count)
    }
    val lastPulse = start + 24 * delta

    // frontier sampler: the register-deletion invariant
    // (etl/controller/controller.go:124-132) — open ≤ incomplete + dirty —
    // may be violated only transiently (the maintainer's own
    // flush→close-out window, whose length is one tiny Spark write; the
    // 5 s allowance is headroom for a contended test host); a violation
    // streak outliving that is a leak, not a window
    var maxViolationStreakMs = 0L
    var streakStartNs = -1L
    var peakOpen = 0
    def sampleFrontier(d: Ingest.Daemon): Unit = {
      val (open, incomplete, dirty) = d.frontierStats
      peakOpen = math.max(peakOpen, open)
      if (open > incomplete + dirty) {
        if (streakStartNs < 0) streakStartNs = System.nanoTime()
        maxViolationStreakMs = math.max(maxViolationStreakMs,
          (System.nanoTime() - streakStartNs) / 1000000L)
      } else streakStartNs = -1L
    }
    def awaitSampling(d: Ingest.Daemon, deadlineMs: Long)(cond: => Boolean): Boolean = {
      val t0 = System.nanoTime()
      while (!cond && (System.nanoTime() - t0) / 1e6 < deadlineMs) {
        sampleFrontier(d); Thread.sleep(25)
      }
      cond
    }

    val server = bindOn(0, flaky)
    // life 1 INSIDE try/finally: a failed assertion must not leak a live
    // 3-thread daemon that keeps submitting Spark jobs into the shared
    // test JVM for the rest of the run
    val h1 = Ingest.bootstrap(spark, base, "localhost", server.getPort, start, fastCfg)
    try {
      // life 1 up to roughly the middle of the feed, then a hard restart
      assert(awaitSampling(h1.daemon, 60000L)(h1.daemon.ingestedCount >= 10),
        s"soak life 1 stalled: ${h1.daemon.snapshot.keySet}")
    } finally h1.stop()
    try {
      val h2 = Ingest.bootstrap(spark, base, "localhost", server.getPort, start, fastCfg)
      try {
        assert(awaitSampling(h2.daemon, 120000L)(h2.daemon.sequentialPulse == lastPulse),
          s"soak never converged: seq=${h2.daemon.sequentialPulse}, " +
            s"known=${h2.daemon.snapshot.keySet.toVector.sorted}")
        // after convergence the maintainer closes everything out: the open
        // register drains to EMPTY (the reference deletes completed pulses
        // from its jetDropRegister the same way)
        assert(awaitSampling(h2.daemon, 30000L)(h2.daemon.frontierStats == ((0, 0, 0))),
          s"frontier never drained: ${h2.daemon.frontierStats}")
      } finally h2.stop()
    } finally {
      server.shutdownNow(); server.awaitTermination(5, TimeUnit.SECONDS)
    }
    assert(maxViolationStreakMs < 5000L,
      s"open frontier exceeded incomplete+dirty for ${maxViolationStreakMs}ms — " +
        "the register is leaking closed pulses")
    assert(peakOpen <= slots.length,
      s"open register held $peakOpen entries for a ${slots.length}-pulse feed")

    // exact store: no loss, no duplication, holes chained across
    val records = storeTable(base, "records")
    assert(records.count() == slots.length * 8L)
    assert(records.select("pulse_number").distinct().count() == slots.length.toLong)
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.map(_.getAs[Long]("pulse_number")).toSeq ==
      slots.map(start + _ * delta))
    assert(pulses.forall(_.getAs[Boolean]("is_complete")))
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    assert(pulses.forall(_.getAs[Long]("record_amount") == 8L))
    val prevs = pulses.map(_.getAs[Long]("prev_pulse_number"))
    assert(prevs.drop(1).toSeq == pulses.map(_.getAs[Long]("pulse_number")).dropRight(1).toSeq,
      "every prev link must point at the actual predecessor, jumping the holes")
  }

  test("the daemon's ops listener serves /healthcheck and register gauges " +
      "(cmd/block-explorer/main.go:60,157-171)") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-ops").toString
    val nPulses = 2
    val wire = Fixtures.multiPulseBatches(spark, nPulses, recordsPerPulse = 6,
      startPulse = start)
    val server = bindOn(0, new ReplayExporter(wire))
    val handle = Ingest.bootstrap(spark, base, "localhost", server.getPort, start, fastCfg)
    val ops = Ingest.opsListener(handle.daemon, port = 0)
    try {
      assert(await()(handle.daemon.sequentialPulse == start + delta))
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String): (Int, String) = {
        val resp = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:${ops.getAddress.getPort}$path"))
          .GET().build(), java.net.http.HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      assert(get("/healthcheck") == ((200, "OK")))
      assert(get("/healthchecks")._1 == 404) // exact path, like the service listener
      val (ms, body) = get("/metrics")
      assert(ms == 200)
      assert(body.contains(s"gbe_ingest_sequential_pulse ${start + delta}"), body)
      assert(body.contains(s"gbe_ingest_known_pulses $nPulses"), body)
      assert(body.contains("gbe_ingest_open_frontier"), body)
      assert(body.contains(s"gbe_ingest_commits_total $nPulses"), body)
      // the follower's two stages and the writer's write, timed apart
      Seq("fetch", "prepare", "commit").foreach(stage =>
        assert(body.contains(s"# TYPE gbe_ingest_${stage}_ms_sum counter"), body))
      // the last manifest committed per table, as the commits returned it:
      // one records and one jet_drops version per pulse, each listing its
      // pulses' files and tombstoning the manifest it superseded
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("records", "jet_drops").foreach { t =>
        val snap = TableManifest.latest(fs, s"$base/$t").get
        assert(snap.version == nPulses && snap.tombstones.length == nPulses - 1)
        assert(body.contains(s"""gbe_ingest_manifest_version{table="$t"} $nPulses"""), body)
        assert(body.contains(s"""gbe_ingest_manifest_live_files{table="$t"} $nPulses"""), body)
        assert(body.contains(
          s"""gbe_ingest_manifest_pending_tombstones{table="$t"} ${nPulses - 1}"""), body)
      }
      val pulsesVersion = """gbe_ingest_manifest_version\{table="pulses"\} (\d+)""".r
        .findFirstMatchIn(body).map(_.group(1).toLong)
      assert(pulsesVersion.exists(_ >= 1), body)
    } finally {
      ops.stop(0)
      handle.stop()
      server.shutdownNow(); server.awaitTermination(5, TimeUnit.SECONDS)
    }
  }

  test("the daemon's pulse commits and maintainer flushes run 0 Spark jobs") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-jobs").toString
    val nPulses = 3
    val last = start + (nPulses - 1) * delta
    val feed = new ReplayExporter(Fixtures.multiPulseBatches(spark, nPulses,
      recordsPerPulse = 6, startPulse = start))
    var daemon: Ingest.Daemon = null
    // the daemon's threads start inside the count, so they inherit its job group
    val jobs = jobsDuring {
      daemon = new Ingest.Daemon(spark, base, feed, start, fastCfg).start()
      // a maintainer tick flushed the last pulse's sequential flag
      try assert(await()(daemon.sequentialPulse == last &&
          daemon.frontierStats._3 == 0 && daemon.lastManifests.contains("pulses")),
        s"the daemon never flushed: ${daemon.snapshot}")
      finally daemon.stop()
    }
    assert(jobs == 0, s"$jobs Spark jobs")
    assert(daemon.commitStats._1 == nPulses)
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.map(_.getAs[Long]("pulse_number")).toSeq ==
      (0 until nPulses).map(start + _ * delta))
    assert(pulses.forall(r => r.getAs[Boolean]("is_complete") && r.getAs[Boolean]("is_sequential")))
  }

  test("a pulse commit whose file write fails publishes nothing, and the " +
      "follower's retry commits the pulse") {
    val local = java.nio.file.Files.createTempDirectory("graft-daemon-failwrite").toString
    val feed = new ReplayExporter(Fixtures.multiPulseBatches(spark, nPulses = 2,
      recordsPerPulse = 6, startPulse = start))
    // the first pulse's records file is written, its jet_drops create throws
    FailingFileSystem.armed(spark, 2) {
      val daemon = new Ingest.Daemon(spark, FailingFileSystem.path(local), feed, start,
        fastCfg).start()
      try assert(await()(daemon.sequentialPulse == start + delta),
        s"the failed pulse was never committed: ${daemon.snapshot}")
      finally daemon.stop()
    }
    assert(FailingFileSystem.creates.get > 4, "the failure fired and later writes went on")
    assert(feed.probedPulses.count(_ == start) >= 2, "the follower re-fetched the pulse")
    Seq(start, start + delta).foreach { p =>
      assert(storeTable(local, "records").filter(col("pulse_number") === p).count() == 6L)
      assert(storeTable(local, "jet_drops").filter(col("pulse_number") === p)
        .agg(sum("record_amount")).head().getLong(0) == 6L)
    }
  }

  test("maintainer reloads an incomplete pulse until its jet cover fills (ST2+ST3)") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-reload").toString
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 8,
      startPulse = start)
    val full = new ReplayExporter(wire)
    // first serve of the FIRST pulse hides jet "1" entirely (a node that
    // had not flushed that jet yet); re-requests serve everything
    val half = new ReplayExporter(wire.filter(
      col("pulse_number") =!= start || col("jet_id") === "0"))
    @volatile var healed = false
    val flaky = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        val src = if (pulse == start && !healed) { healed = true; half } else full
        src.export(pulse, recordNumber, count)
      }
    }

    val server = bindOn(0, flaky)
    val handle = Ingest.bootstrap(spark, base, "localhost", server.getPort, start, fastCfg)
    try {
      // the maintainer must notice the half cover ({"0"} is not a full
      // binary-tree cover), re-request the pulse, and complete it
      assert(await()(handle.daemon.snapshot.get(start).exists(_.complete)),
        s"incomplete pulse never healed: ${handle.daemon.snapshot}")
      assert(await()(handle.daemon.sequentialPulse == start + delta))
    } finally {
      handle.stop()
      server.shutdownNow()
      server.awaitTermination(5, TimeUnit.SECONDS)
    }
    val records = storeTable(base, "records")
    assert(records.filter(col("pulse_number") === start).count() == 8L,
      "the reload's partition overwrite replaced the half pulse with the full one")
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.forall(_.getAs[Boolean]("is_complete")))
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    // every commit writes a partition as ONE file and its manifest
    // version replaces the partition's file list, so even after the
    // re-commit and the pulses flushes each partition has one live file
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("records", "jet_drops", "pulses").foreach { table =>
      val snap = TableManifest.latest(fs, s"$base/$table")
        .getOrElse(fail(s"$table has no manifest"))
      assert(snap.partitions.nonEmpty && snap.partitions.values.forall(_.size == 1),
        s"$table must list exactly one file per partition: ${snap.partitions}")
    }
  }

  test("an incomplete pulse whose jet cover never fills is re-requested once " +
      "per reload TTL, not once per maintainer tick (ST3)") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-reload-ttl").toString
    // jet "1" never arrives: {"0"} is not a full binary-tree cover
    val inner = new ReplayExporter(Fixtures.multiPulseBatches(spark, nPulses = 1,
      recordsPerPulse = 8, startPulse = start).filter(col("jet_id") === "0"))
    // a fetch opens its first portion at record 0; later portions resume
    // at the cursor, so this counts fetches of the pulse, not portions
    val fetches = new java.util.concurrent.atomic.AtomicInteger
    val counting = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        if (pulse == start && recordNumber == 0) fetches.incrementAndGet()
        inner.export(pulse, recordNumber, count)
      }
    }
    val cfg = fastCfg.copy(pulsePeriodMs = 50L, reloadTtlMs = 3600000L)
    val daemon = new Ingest.Daemon(spark, base, counting, start, cfg).start()
    try {
      // the follower's fetch, then the maintainer's first re-request
      assert(await()(fetches.get == 2), s"the incomplete pulse was never re-requested: $fetches")
      // 40 maintainer periods: a tick that found nothing to commit does
      // no Spark work, so the window holds well over 10 ticks
      Thread.sleep(40 * cfg.pulsePeriodMs)
      assert(fetches.get == 2,
        s"the TTL must dedup the re-request across ticks, fetched ${fetches.get} times")
      assert(daemon.snapshot.get(start).exists(!_.complete))
    } finally daemon.stop()
  }

  test("a pulse whose records committed but whose jet_drops commit was lost is " +
      "re-committed by a daemon started at it, and both tables then hold it") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-drophole").toString
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 6,
      startPulse = start)
    // the crash window between commitPulse's two commits: the records
    // commit published the pulse, the process died before jet_drops
    commitFrame(spineFrame(wire), s"$base/records")
    assert(TableManifest.readTable(spark, s"$base/jet_drops").isEmpty)
    val daemon = new Ingest.Daemon(spark, base, new ReplayExporter(wire), start, fastCfg).start()
    try assert(await()(daemon.sequentialPulse == start),
      s"the half-committed pulse never healed: ${daemon.snapshot}")
    finally daemon.stop()
    assert(storeTable(base, "records").filter(col("pulse_number") === start).count() == 6L,
      "the re-commit replaces the records partition, never duplicates it")
    val drops = storeTable(base, "jet_drops").filter(col("pulse_number") === start)
    assert(drops.count() == 2L) // 2 jets
    assert(drops.agg(sum("record_amount")).head().getLong(0) == 6L)
  }

  test("a daemon start deletes the files a crashed first commit left in a " +
      "partition no later commit touched, and keeps every committed file") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-orphan").toString
    val records = s"$base/records"
    val (p, q) = (start, start + delta)
    // the first records commit of pulse P died between its data write and
    // its manifest publish
    spark.createDataFrame(Seq(("0", "orphan"))).toDF("jet_id", "payload")
      .write.parquet(s"$records/pulse_number=$p")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphans = TableManifest.listPartitionFiles(fs, records, s"pulse_number=$p")
    assert(orphans.nonEmpty)
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 6,
      startPulse = q)
    (1 to 3).foreach(_ => PulseWriter.commitPulse(wire, base))
    def committed(table: String) = {
      val snap = TableManifest.latest(fs, s"$base/$table").get
      snap.partitions.flatMap { case (k, files) => files.map(f => s"$k/$f") } ++
        snap.tombstones.map(_.file).filterNot(_.startsWith("_manifests/"))
    }
    val kept = Seq("records", "jet_drops").map(t => t -> committed(t)).toMap
    val idle = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        Iterator.empty
    }
    new Ingest.Daemon(spark, base, idle, q + delta, fastCfg).start().stop()
    assert(TableManifest.listPartitionFiles(fs, records, s"pulse_number=$p").isEmpty,
      s"the crashed commit's files survived the daemon start: $orphans")
    kept.foreach { case (t, files) =>
      files.foreach(f => assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/$t/$f")),
        s"a committed or retained file was deleted: $t/$f"))
    }
    assert(storeTable(base, "records").filter(col("pulse_number") === q).count() == 6L)
  }

  test("a feed that resumes BEHIND the crept-ahead far probe window is still " +
      "found: the hole sweep restarts instead of advancing monotonically") {
    // A long NOT_FOUND stall lets the far window creep deep; the feed
    // then resumes at an offset PAST the near window but BEHIND the far
    // window — a monotone-only far window (the pre-fix behavior) never
    // probes that offset again (it advances a span per tick, faster than
    // the head's pulse per cadence), an unrecoverable stall. The cyclic
    // sweep restart must find it within one cycle.
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-resume").toString
    val cfg = Ingest.Config(pulsePeriodMs = 100L, sequentialPeriodMs = 30L,
      headPauseMs = 5L, errorPauseMs = 20L, batchSize = 7, fetchBackoffMs = 1L,
      headProbeAfter = 1, headProbeSpan = 2)
    val resumedPulse = start + 4 * delta // offset 3 from the post-commit cursor
    val wire = Fixtures.multiPulseBatches(spark, 1, recordsPerPulse = 6,
      startPulse = start)
      .union(Fixtures.multiPulseBatches(spark, 1, recordsPerPulse = 6,
        startPulse = resumedPulse))
    val inner = new ReplayExporter(wire)
    @volatile var released = false
    @volatile var maxProbed = 0L
    val gated = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        if (pulse > maxProbed) maxProbed = pulse
        if (pulse != start && !released) throw new Transport.PulseNotFound(pulse)
        inner.export(pulse, recordNumber, count)
      }
    }
    val daemon = new Ingest.Daemon(spark, base, gated, start, cfg).start()
    try {
      assert(await()(daemon.ingestedCount == 1), "daemon never got the head pulse")
      // let the far window sweep well past the resumed pulse's offset
      // (cursor is start+δ; offset 3 = start+4δ; wait for ≥ start+12δ)
      assert(await()(maxProbed >= start + 12 * delta),
        s"far window never crept deep enough: probed to $maxProbed")
      released = true
      assert(await()(daemon.sequentialPulse == resumedPulse),
        s"resumed pulse behind the far window was never found: " +
          s"cursor=${daemon.cursor}, probed to $maxProbed, " +
          s"known=${daemon.snapshot.keySet}")
    } finally daemon.stop()
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.map(_.getAs[Long]("pulse_number")).toSeq == Seq(start, resumedPulse))
    assert(pulses.last.getAs[Long]("prev_pulse_number") == start,
      "the resumed pulse must chain back across the stall")
  }

  test("a fresh daemon starting INTO a historical hole sequences the first " +
      "probed pulse: its chain prev is the start mark, not a hole pulse") {
    // SPARK_GRAFT_FROM_PULSE older than the exporter's retained history:
    // the configured start pulse (and the next two) never exist; the
    // first real pulse is three deltas up. The probe finds it — and its
    // prev must link to the sequencer's start mark (fromPulse - δ), not
    // to `pulse - δ` (a pulse inside the hole that never exists), or the
    // sequential mark can never advance and the frontier never drains.
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-fresh-hole").toString
    val cfg = fastCfg.copy(headPauseMs = 10L, headProbeAfter = 1, headProbeSpan = 2)
    val firstReal = start + 3 * delta
    val wire = Fixtures.multiPulseBatches(spark, 1, recordsPerPulse = 6,
      startPulse = firstReal)
    val daemon = new Ingest.Daemon(spark, base, new ReplayExporter(wire), start, cfg)
      .start()
    try {
      assert(await()(daemon.sequentialPulse == firstReal),
        s"first probed pulse never sequenced: known=${daemon.snapshot}")
      // complete + sequential → the close-out drains the frontier
      assert(await()(daemon.frontierStats == ((0, 0, 0))),
        s"frontier never drained: ${daemon.frontierStats}")
    } finally daemon.stop()
    val row = storeTable(base, "pulses").collect().head
    assert(row.getAs[Long]("pulse_number") == firstReal)
    assert(row.getAs[Long]("prev_pulse_number") == start - delta,
      "chain must start at the sequencer's start mark")
    assert(row.getAs[Boolean]("is_sequential"))
  }

  test("restart seed is bounded by the open frontier, not the store's history: " +
      "500 closed pulses + 3 open seed only the frontier buckets") {
    // the register only NEEDS the open frontier + chain tail: the closed
    // complete∧sequential prefix is summarized in the pulses manifest
    // each flush, so a decade of history must not be collected
    // onto the driver at every restart (the reference's controller also
    // registers only incomplete pulses, controller.go:124-132)
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-longhist").toString
    val span = 100L // 10 pulses per bucket at delta=10
    val nClosed = 500
    val openIdx = 500 to 502
    // a STALE summary: points a couple of pulses LOW — the seed must read
    // the superset and re-derive the true marks from the rows
    writeStorePulses(base, (0 until nClosed).map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, true, true, 2, 8L, 2L)
    } ++ openIdx.map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, false, false, 2, 8L, 2L)
    }, span = span, summary = Some(TableManifest.Summary(start + 497 * delta,
      (start + 498 * delta) / span, span)))
    // records/drops exist for the OPEN pulses (their covers reload from
    // the drops partitions); the closed prefix needs no fact partitions
    // for this test — nothing may read it
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 3, recordsPerPulse = 8,
      startPulse = start + 500 * delta)
    openIdx.foreach { i =>
      PulseWriter.commitPulse(
        wire.filter(col("pulse_number") === start + i * delta), base)
    }

    // the seed reads in the driver: count the data files it opens through
    // a counting file system, and the Spark jobs the start runs
    val headOnly = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        throw new Transport.PulseNotFound(pulse)
    }
    CountingFileSystem.mount(spark)
    var daemon: Ingest.Daemon = null
    var jobs = -1
    val (_, opened) = CountingFileSystem.during {
      jobs = jobsDuring {
        daemon = new Ingest.Daemon(spark, CountingFileSystem.path(base), headOnly, start,
          fastCfg.copy(flushBucketSpan = span)).start()
      }
    }
    try {
      assert(jobs == 0, s"a daemon start ran $jobs Spark jobs")
      // THE PIN: the seed opened the pulses files of the frontier buckets
      // and the open pulses' drops files, never a closed bucket's
      val frontier = (start + 498 * delta) / span
      def partitionsOpened(table: String, partCol: String) = opened.collect {
        case f if f.startsWith(s"$base/$table/$partCol=") =>
          f.stripPrefix(s"$base/$table/$partCol=").takeWhile(_ != '/').toLong
      }.toSet
      val buckets = partitionsOpened("pulses", "pulse_bucket")
      assert(buckets.nonEmpty && buckets.forall(_ >= frontier),
        s"the seed opened pulses files outside the frontier buckets (>= $frontier): $opened")
      assert(partitionsOpened("jet_drops", "pulse_number") == openIdx.map(start + _ * delta).toSet,
        s"the seed opened drops files outside the open pulses: $opened")
      // the register holds the frontier bucket's pulses, not 503
      assert(daemon.ingestedCount <= 20,
        s"seed collected ${daemon.ingestedCount} entries — O(history), not O(frontier)")
      assert(daemon.ingestedCount >= openIdx.size)
      // stale summary re-derived: the seed starts at the TRUE mark (499),
      // never the summary's stale 497 (≥, because the live sequencer may
      // already have advanced past it while the job count settled)
      assert(daemon.sequentialPulse >= start + 499 * delta)
      assert(daemon.cursor == start + 503 * delta)
      // the open pulses heal from their drops partitions and sequence
      assert(await()(daemon.sequentialPulse == start + 502 * delta),
        s"frontier never converged: ${daemon.snapshot}")
      assert(await()(daemon.frontierStats == ((0, 0, 0))))
    } finally daemon.stop()
    // no truncation: the closed prefix survives every flush (only the
    // frontier bucket was dirty), and the summary advanced to the new mark
    val after = storeTable(base, "pulses")
    assert(after.count() == (nClosed + openIdx.size).toLong)
    assert(after.filter(col("is_sequential")).count() == (nClosed + openIdx.size).toLong)
    val summary = pulsesSnapshot(base).flatMap(_.summary)
    assert(summary.exists(_.seqPulse == start + 502 * delta), s"summary: $summary")
  }

  test("the daemon persists per-pulse result counters") {
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-results").toString
    // every 3rd record is a "result" → 3 results per 9-record pulse
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 9,
      startPulse = start)
      .withColumn("virtual_type",
        when(col("record_number") % 3 === 0, lit("result")).otherwise(lit("activate")))
    val s1 = bindOn(0, new ReplayExporter(wire))
    val h1 = Ingest.bootstrap(spark, base, "localhost", s1.getPort, start, fastCfg)
    try assert(await()(h1.daemon.sequentialPulse == start + delta))
    finally { h1.stop(); s1.shutdownNow(); s1.awaitTermination(5, TimeUnit.SECONDS) }
    val persisted = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(persisted.map(_.getAs[Long]("result_amount")).toSeq == Seq(3L, 3L),
      s"per-type counter must persist: ${persisted.mkString(", ")}")
  }

  test("a zero-row reload of a previously POPULATED pulse reverts to incomplete " +
      "and stays re-requestable — never sealed complete over a wiped register") {
    // the empty-completeness rule must only fire for pulses never seen
    // populated: a transient upstream fetch that reaches its end-of-pulse
    // marker with no records (flaky node, restarted exporter) would
    // otherwise seal the pulse complete with jets=∅ while the zero-row
    // partition overwrite left the old drop partitions on disk — the
    // sequencer advances past it and the re-request loop that would have
    // self-healed it is gone for good
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-zeroreload").toString
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 8,
      startPulse = start)
    val full = new ReplayExporter(wire)
    val half = new ReplayExporter(wire.filter(
      col("pulse_number") =!= start || col("jet_id") === "0"))
    // pulse 0 fetch phases (advanced per fetch START, i.e. recordNumber=0,
    // so a portioned continuation stays within its phase): 1 = half cover
    // (populated, incomplete), 2 = the transient ZERO-ROW reload (marker
    // only), 3+ = full
    @volatile var phase = 0
    val flaky = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        if (pulse != start) full.export(pulse, recordNumber, count)
        else {
          if (recordNumber == 0) phase += 1
          phase match {
            case 1 => half.export(pulse, recordNumber, count)
            case 2 => Iterator(Transport.Frame(pulse + delta, null))
            case _ => full.export(pulse, recordNumber, count)
          }
        }
    }
    // short reload TTL so the post-zero-row re-request happens test-fast
    val daemon = new Ingest.Daemon(spark, base, flaky, start,
      fastCfg.copy(reloadTtlMs = 300L)).start()
    try {
      assert(await()(daemon.snapshot.get(start)
        .exists(e => e.complete && e.recordAmount == 8L)),
        s"pulse never healed past the zero-row reload (sealed-empty bug?): " +
          s"${daemon.snapshot.get(start)}, phases seen: $phase")
      assert(await()(daemon.sequentialPulse == start + delta))
    } finally daemon.stop()
    assert(phase >= 3, s"the zero-row reload phase was never exercised: $phase")
    assert(storeTable(base, "records")
      .filter(col("pulse_number") === start).count() == 8L,
      "the healed pulse must hold the full record set, not the half store")
    val row = storeTable(base, "pulses")
      .filter(col("pulse_number") === start).collect().head
    assert(row.getAs[Boolean]("is_complete") && row.getAs[Long]("record_amount") == 8L)
  }

  test("restart after a FLUSHED zero-row revert restores the counters from the " +
      "drops partitions — the register never serves amounts the store contradicts") {
    // the revert persists jets=∅/amounts=0 while the zero-row overwrite
    // left the old drop/record partitions intact; a restarted daemon must
    // seed the truth back from the drops table (cover AND record counter),
    // even when the upstream can no longer serve the pulse at all
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-revertrestart").toString
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 8,
      startPulse = start)
    val full = new ReplayExporter(wire)
    val half = new ReplayExporter(wire.filter(
      col("pulse_number") =!= start || col("jet_id") === "0"))
    // life 1 phases for pulse 0: 1 = half cover (4 records on disk),
    // 2+ = zero-row reloads (the transient that outlives life 1)
    @volatile var phase = 0
    val flaky = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        if (pulse != start) full.export(pulse, recordNumber, count)
        else {
          if (recordNumber == 0) phase += 1
          if (phase <= 1) half.export(pulse, recordNumber, count)
          else Iterator(Transport.Frame(pulse + delta, null))
        }
    }
    val d1 = new Ingest.Daemon(spark, base, flaky, start,
      fastCfg.copy(reloadTtlMs = 300L)).start()
    try assert(await()(d1.snapshot.get(start)
      .exists(e => !e.complete && e.recordAmount == 0L && e.jets.isEmpty)),
      s"zero-row revert never registered: ${d1.snapshot.get(start)}")
    finally d1.stop() // the shutdown flush persists the reverted row
    assert(storeTable(base, "pulses")
      .filter(col("pulse_number") === start).collect().head
      .getAs[Long]("record_amount") == 0L, "fixture: the revert must be flushed")

    // life 2: the upstream has pruned pulse 0 (PulseNotFound forever) —
    // the seed alone must restore the on-disk truth into the register
    val pruned = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        if (pulse == start) throw new Transport.PulseNotFound(pulse)
        else full.export(pulse, recordNumber, count)
    }
    val d2 = new Ingest.Daemon(spark, base, pruned, start, fastCfg).start()
    try {
      val e = d2.snapshot(start)
      assert(e.jets == Set("0") && e.jetDropAmount == 1 && e.recordAmount == 4L,
        s"seed must restore cover AND counters from the drops partitions: $e")
      assert(!e.complete, "a half cover must stay incomplete and re-requestable")
      // and the persisted dimension converges back to the store's truth
      // once the next flush lands (maintainer keeps re-requesting, the
      // pruned exporter keeps answering NOT_FOUND — no heal, no harm).
      // The poll retries on the documented racing-overwrite read window.
      assert(await()(scala.util.Try(storeTable(base, "pulses")
        .filter(col("pulse_number") === start).collect()).toOption
        .exists(_.headOption.exists(_.getAs[Long]("record_amount") == 4L))),
        "the restored counter must reach the persisted dimension")
    } finally d2.stop()
  }

  test("gap backfill: no pulses manifest's frontier bucket is above an open row it names") {
    // the invariant the bounded seed depends on: a seed from ANY committed
    // version reads every pulse that version holds open. A gap backfill
    // lands an open pulse BELOW the frontier a previous flush recorded,
    // so the flush landing it must commit a lowered summary with it. The
    // backfilled pulse arrives with half its cover first, so it is still
    // open in the version that lands it; its TTL reload then heals it.
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-backfill").toString
    val span = 10L // every pulse its own bucket at delta=10
    val cfg = fastCfg.copy(flushBucketSpan = span, reloadTtlMs = 300L,
      headPauseMs = 30L, headProbeAfter = 1, headProbeSpan = 2)
    val p0 = start
    val p1 = start + delta     // the gap: unknown until released
    val p2 = start + 2 * delta // found by the probe, HALF cover → stalls
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 3, recordsPerPulse = 8,
      startPulse = start)
    val full = new ReplayExporter(wire)
    val half = new ReplayExporter(wire.filter(
      !col("pulse_number").isin(p1, p2) || col("jet_id") === "0"))
    @volatile var releaseGap = false
    @volatile var healP1 = false
    val gated = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        pulse match {
          case `p1` if !releaseGap => throw new Transport.PulseNotFound(pulse)
          case `p1` if !healP1 => half.export(pulse, recordNumber, count)
          case `p2` => half.export(pulse, recordNumber, count) // never completes
          case _ => full.export(pulse, recordNumber, count)
        }
    }
    def summaryBucket(): Option[Long] =
      pulsesSnapshot(base).flatMap(_.summary).map(_.frontierBucket)
    val daemon = new Ingest.Daemon(spark, base, gated, start, cfg).start()
    try {
      // p0 closes; the probe finds p2 (half cover, stays open); a flush
      // records the frontier at p2's bucket with p1 unknown
      assert(await()(daemon.snapshot.contains(p2) &&
        summaryBucket().contains(p2 / span)),
        s"fixture never reached the high-frontier state: known=" +
          s"${daemon.snapshot.keySet}, summary=${summaryBucket()}")
      // release the gap: the stalled sequencer re-requests p1, whose
      // half-cover commit backfills BELOW the recorded frontier
      releaseGap = true
      assert(await()(pulsesSnapshot(base).exists(_.partitions.contains(
        s"pulse_bucket=${p1 / span}"))), "the backfilled pulse never reached a manifest")
      healP1 = true
      // the backfill then chains and sequences normally (p2 stays open on
      // its half cover; the summary tracks whatever the frontier is now)
      assert(await()(daemon.sequentialPulse == p1),
        s"backfilled pulse never sequenced: ${daemon.snapshot}")
      assert(summaryBucket().exists(_ <= p2 / span), s"summary=${summaryBucket()}")
    } finally daemon.stop()
    // every retained version (all of this run's are inside the retention
    // window, and each one's files outlive it): its summary's bucket is
    // at or below the bucket of every not-closed row it names
    val table = s"$base/pulses"
    val versions = new java.io.File(s"$table/_manifests").listFiles()
      .filter(_.getName.matches("v\\d+\\.json")).sortBy(_.getName).toSeq
      .map(f => TableManifest.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"), f.lastModified).get)
    val p1Open = versions.filter { v =>
      val open = spark.read.option("basePath", table).parquet(v.files(table): _*)
        .filter(!(col("is_complete") && col("is_sequential")))
        .select("pulse_number").collect().map(_.getLong(0))
      val fb = v.summary.map(_.frontierBucket)
      assert(fb.nonEmpty, s"v${v.version} carries no summary")
      open.foreach(p => assert(fb.get <= p / span,
        s"v${v.version}: frontier bucket ${fb.get} above open pulse $p"))
      open.contains(p1)
    }
    assert(p1Open.nonEmpty, "no version names the backfilled pulse open")
    assert(versions.exists(v => v.summary.exists(_.frontierBucket == p2 / span) &&
      !v.partitions.contains(s"pulse_bucket=${p1 / span}")),
      "no version recorded the high frontier before the backfill")
  }

  test("loop-failure tracing: the FIRST failure of each loop prints immediately, " +
      "repeats throttle per loop, and one loop cannot starve another's trace") {
    val noStream = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        throw new Transport.PulseNotFound(pulse)
    }
    val d = new Ingest.Daemon(spark,
      java.nio.file.Files.createTempDirectory("graft-trace").toString, noStream, start)
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try {
      d.traceLoopFailure("maintainer", new RuntimeException("boom-m1"))
      d.traceLoopFailure("maintainer", new RuntimeException("boom-m2")) // throttled
      d.traceLoopFailure("sequencer", new RuntimeException("boom-s1")) // own token
    } finally System.setErr(old)
    val err = buf.toString("UTF-8")
    assert(err.contains("boom-m1"), s"first failure must print immediately: '$err'")
    assert(!err.contains("boom-m2"), s"repeat inside the window must throttle: '$err'")
    assert(err.contains("boom-s1"),
      s"a fast loop must not starve another loop's first trace: '$err'")
  }

  test("zero-record pulses complete by construction, and a restart over a " +
      "store with a fileless jet_drops dir seeds instead of crash-looping") {
    // marker-only exporter: both pulses exist but carry no records —
    // fetchPulse runs to the end-of-pulse marker and returns empty rows
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-empty").toString
    val served = Set(start, start + delta)
    val markerOnly = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        if (!served.contains(pulse)) throw new Transport.PulseNotFound(pulse)
        Iterator(Transport.Frame(pulse + delta, null))
      }
    }
    val d1 = new Ingest.Daemon(spark, base, markerOnly, start, fastCfg).start()
    try {
      assert(await()(d1.sequentialPulse == start + delta),
        s"empty pulses never sequenced: ${d1.snapshot}")
      assert(await()(d1.frontierStats == ((0, 0, 0))),
        "an empty pulse must not sit in the open frontier forever")
    } finally d1.stop()
    val pulses = storeTable(base, "pulses").orderBy("pulse_number").collect()
    assert(pulses.map(_.getAs[Long]("pulse_number")).toSeq ==
      Seq(start, start + delta))
    assert(pulses.forall(_.getAs[Boolean]("is_complete")), "complete by construction")
    assert(pulses.forall(_.getAs[Boolean]("is_sequential")))
    assert(pulses.forall(_.getAs[Int]("jet_drop_amount") == 0))

    // restart over the same store: jet_drops/ holds no data files (only
    // write-commit markers, if the dir exists at all) — seed() must not
    // throw on schema inference, and the daemon must resume cleanly
    val d2 = new Ingest.Daemon(spark, base, markerOnly, start, fastCfg).start()
    try {
      assert(d2.ingestedCount == 2, "restart must seed both persisted pulses")
      assert(await()(d2.sequentialPulse == start + delta))
    } finally d2.stop()

    // the hard case, crafted deterministically: an OPEN pulse persisted
    // beside a fileless jet_drops dir (a crash window between the pulses
    // flush and the first non-empty commit). seed()'s open-frontier
    // cover reload must SKIP the unreadable drops table instead of
    // throwing schema inference out of every start() forever.
    val base2 = java.nio.file.Files.createTempDirectory("graft-daemon-opencrash").toString
    writeStorePulses(base2,
      Seq(StorePulse(start, start - delta, start + delta, false, false, 0, 0L)))
    val drops2 = new java.io.File(s"$base2/jet_drops")
    assert(drops2.mkdirs())
    assert(new java.io.File(drops2, "_SUCCESS").createNewFile())
    val d3 = new Ingest.Daemon(spark, base2, markerOnly, start, fastCfg).start()
    try {
      // seeded without throwing; the maintainer re-fetches the open
      // pulse (empty → complete by construction) and the store converges
      assert(await()(d3.sequentialPulse == start + delta),
        s"crash-window store never converged: ${d3.snapshot}")
    } finally d3.stop()
  }

  // ---- the two-stage follower --------------------------------------------

  test("the follower asks for pulse N+1 while pulse N's jet_drops write is blocked") {
    val local = java.nio.file.Files.createTempDirectory("graft-daemon-overlap").toString
    val inner = new ReplayExporter(Fixtures.multiPulseBatches(spark, nPulses = 3,
      recordsPerPulse = 6, startPulse = start))
    val asked = new CountDownLatch(1)
    val stream = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        if (pulse == start + delta) asked.countDown()
        inner.export(pulse, recordNumber, count)
      }
    }
    // pulse N's jet_drops write waits for the request of N+1: a follower
    // that fetches only after its commit never sends it, and the write
    // goes on after the 30 s timeout with the overlap recorded missing
    @volatile var overlapped: Option[Boolean] = None
    BlockingFileSystem.armed(spark, start) {
      val seen = asked.await(30, TimeUnit.SECONDS)
      if (overlapped.isEmpty) overlapped = Some(seen)
    } {
      val daemon = new Ingest.Daemon(spark, BlockingFileSystem.path(local), stream, start,
        fastCfg).start()
      try assert(await()(daemon.sequentialPulse == start + 2 * delta),
        s"the daemon never converged: ${daemon.snapshot}")
      finally daemon.stop()
    }
    assert(overlapped.contains(true),
      s"pulse N+1 was not requested while pulse N's write was blocked: $overlapped")
    assert(storeTable(local, "records").count() == 18L)
  }

  test("a failed write rewinds the follower to its pulse: once the failure " +
      "clears, every pulse is committed exactly once, in order, none skipped") {
    val local = java.nio.file.Files.createTempDirectory("graft-daemon-rewind").toString
    val pulses = (0 until 4).map(start + _ * delta)
    val feed = new ReplayExporter(Fixtures.multiPulseBatches(spark, nPulses = pulses.length,
      recordsPerPulse = 6, startPulse = start))
    // data-file creates 1-3 are pulse 0's two files and pulse 1's records;
    // the 4th, pulse 1's jet_drops, throws while the follower holds pulse 2
    // prepared. No maintainer tick runs during the feed, so no pulses
    // flush creates a file in between.
    val cfg = fastCfg.copy(pulsePeriodMs = 600000L)
    val daemon = new Ingest.Daemon(spark, FailingFileSystem.path(local), feed, start, cfg)
    FailingFileSystem.armed(spark, 4) {
      daemon.start()
      try assert(await()(daemon.ingestedCount == pulses.length),
        s"the feed was never committed: ${daemon.snapshot.keySet}")
      finally daemon.stop()
    }
    assert(FailingFileSystem.creates.get > 4, "the failure fired and later writes went on")
    assert(daemon.commitStats._1 == pulses.length, s"pulse writes: ${daemon.commitStats}")
    // a jet_drops version is published only by a whole pulse write: the
    // n-th version adds exactly the n-th pulse
    val manifests = new java.io.File(s"$local/jet_drops/_manifests").listFiles()
      .filter(_.getName.matches("v\\d+\\.json")).sortBy(_.getName).toSeq
      .map(f => TableManifest.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"), f.lastModified).get)
    assert(manifests.map(_.partitions.keySet) ==
      pulses.indices.map(i => pulses.take(i + 1).map(p => s"pulse_number=$p").toSet),
      s"jet_drops versions: ${manifests.map(_.partitions.keySet.toSeq.sorted)}")
    assert(feed.probedPulses.count(_ == pulses(1)) >= 2, "the failed pulse was fetched again")
    assert(feed.probedPulses.count(_ == pulses(2)) >= 2,
      "the pulse prepared past the failure was dropped and fetched again")
    pulses.foreach(p => assert(
      storeTable(local, "records").filter(col("pulse_number") === p).count() == 6L, s"$p"))
  }

  test("stop() with a prepared, unwritten pulse finishes the write in flight, " +
      "leaves no ingest thread alive, and the next start commits the dropped pulse") {
    val local = java.nio.file.Files.createTempDirectory("graft-daemon-stop").toString
    val (p0, p1) = (start, start + delta)
    val feed = new ReplayExporter(Fixtures.multiPulseBatches(spark, nPulses = 2,
      recordsPerPulse = 6, startPulse = start))
    // counted down once the follower holds pulse 1's end-of-pulse marker
    val fetched = new CountDownLatch(1)
    val stream = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        feed.export(pulse, recordNumber, count).map { f =>
          if (pulse == p1 && f.row == null) fetched.countDown()
          f
        }
    }
    def ingestThreads() = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-ingest-")).toSet
    val before = ingestThreads()
    val release = new CountDownLatch(1)
    BlockingFileSystem.armed(spark, p0)(release.await(60, TimeUnit.SECONDS)) {
      val d1 = new Ingest.Daemon(spark, BlockingFileSystem.path(local), stream, start,
        fastCfg).start()
      try {
        assert(fetched.await(60, TimeUnit.SECONDS),
          "pulse 1 was never fetched while pulse 0's write was blocked")
        Thread.sleep(200) // the follower prepares pulse 1 and waits on pulse 0
        val stopping = new Thread(() => d1.stop())
        stopping.start()
        Thread.sleep(200) // stop() waits for the follower
        release.countDown()
        stopping.join(60000)
        assert(!stopping.isAlive, "stop() never returned")
      } finally { release.countDown(); d1.stop() } // stop() is idempotent
      assert((ingestThreads() -- before).isEmpty,
        s"threads outlived stop(): ${(ingestThreads() -- before).map(_.getName)}")
      assert(d1.snapshot.keySet == Set(p0), s"register: ${d1.snapshot}")
    }
    val fs = new org.apache.hadoop.fs.Path(local)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committed(table: String) =
      TableManifest.latest(fs, s"$local/$table").toSeq.flatMap(_.partitions.keys).toSet
    Seq("records", "jet_drops").foreach(t =>
      assert(committed(t) == Set(s"pulse_number=$p0"), s"$t: ${committed(t)}"))
    val d2 = new Ingest.Daemon(spark, local, feed, start, fastCfg).start()
    try assert(await()(d2.lastManifests.get("jet_drops")
        .exists(_.partitions.contains(s"pulse_number=$p1"))),
      s"the next start never committed the dropped pulse: ${d2.snapshot}")
    finally d2.stop()
    Seq("records", "jet_drops").foreach(t =>
      assert(committed(t) == Set(p0, p1).map(p => s"pulse_number=$p"), s"$t: ${committed(t)}"))
  }
}

/** The local file system mounted under `blocking://`, whose create of a
  * data file under `jet_drops/pulse_number=<pulse>/` first runs a gate — a
  * disk that stalls one pulse's drops write. Arm it with
  * [[BlockingFileSystem.armed]].
  */
final class BlockingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create("blocking:///")
  override def getScheme: String = "blocking"

  private def check(f: Path): Unit =
    if (f.getName.endsWith(".parquet") && f.getParent.getParent.getName == "jet_drops" &&
        f.getParent.getName == s"pulse_number=${BlockingFileSystem.pulse.get}")
      BlockingFileSystem.gate()

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object BlockingFileSystem {
  private val pulse = new java.util.concurrent.atomic.AtomicLong(-1L)
  @volatile private var gate: () => Unit = () => ()

  /** `local` (an absolute local path) under the `blocking://` scheme. */
  def path(local: String): String = s"blocking://$local"

  /** Run `body` with `blocking://` mounted and every create of a
    * `pulseNumber` jet_drops data file running `gateBody` first.
    */
  def armed[T](spark: org.apache.spark.sql.SparkSession, pulseNumber: Long)(
      gateBody: => Unit)(body: => T): T = {
    spark.sparkContext.hadoopConfiguration.set("fs.blocking.impl",
      classOf[BlockingFileSystem].getName)
    gate = () => gateBody
    pulse.set(pulseNumber)
    try body finally { pulse.set(-1L); gate = () => () }
  }
}
