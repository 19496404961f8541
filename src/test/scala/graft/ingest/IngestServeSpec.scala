package graft.ingest

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._
import org.sparkproject.connect.grpc.Server
import org.sparkproject.connect.grpc.netty.NettyServerBuilder

import graft.{Ingest, SparkSpec}
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
    def bucketDirs() = new java.io.File(s"$base/pulses").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pulse_bucket="))
      .map(_.getName).sorted
    assert(bucketDirs().length == nLife1, s"fixture needs $nLife1 fine dirs: ${bucketDirs().toSeq}")

    // life 2: seed detects 8 > 4 dirs → staged re-bucket at
    // spanForExtent (10 → 100 here), then the daemon extends the feed
    val s2 = bindOn(0, new ReplayExporter(wire))
    val h2 = Ingest.bootstrap(spark, base, "localhost", s2.getPort, start, cfg)
    try {
      val expectedSpan = Ingest.spanForExtent(start, start + (nLife1 - 1) * delta,
        cfg.flushBucketSpan, cfg.maxPulseBuckets)
      val coarseDirs = (start / expectedSpan to
        (start + (nTotal - 1) * delta) / expectedSpan).map(b => s"pulse_bucket=$b")
      // the migration staged a MANIFESTED table: the swapped-in dimension
      // is served from its own snapshot before any flush of this life
      val migratedSnap = TableManifest.latest(
        new org.apache.hadoop.fs.Path(s"$base/pulses")
          .getFileSystem(spark.sparkContext.hadoopConfiguration), s"$base/pulses")
      assert(migratedSnap.exists(_.partitions.keySet == coarseDirs.toSet),
        s"the re-bucketed table must commit its coarse dirs: $migratedSnap")
      assert(await()(h2.daemon.sequentialPulse == start + (nTotal - 1) * delta),
        s"daemon never converged after re-bucketing: ${h2.daemon.snapshot.keySet}")
      val dirs = bucketDirs()
      assert(dirs.length <= cfg.maxPulseBuckets && dirs.length < nLife1,
        s"re-bucketing must coarsen the layout: ${dirs.toSeq}")
      assert(dirs.toSeq == coarseDirs,
        s"post-restart flushes must land in the SAME coarse dirs: ${dirs.toSeq}")
      // the persisted summary carries the new span (the next restart's
      // flushes must keep addressing these dirs)
      val frontier = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$base/pulses/_frontier.json"))
      assert(frontier.contains(s""""span":$expectedSpan"""),
        s"frontier must persist the adopted span: $frontier")
      // the re-bucketing full read was evicted back to the frontier
      assert(h2.daemon.ingestedCount < nLife1,
        s"closed history must not stay resident after the migration: " +
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

    // ---- life 3: the summary is LOST (writeFrontier's delete→rename
    // crash window). The seed must RECOVER the coarse span from the
    // on-disk layout — a restart that fell back to the config base span
    // would flush fine-span sibling dirs next to the live coarse
    // partitions (duplicate rows) and record a fine-units frontier that
    // makes the next bounded seed prune every coarse dir.
    val frontierFile = java.nio.file.Paths.get(s"$base/pulses/_frontier.json")
    val expectedSpan2 = Ingest.spanForExtent(start, start + (nLife1 - 1) * delta,
      cfg.flushBucketSpan, cfg.maxPulseBuckets)
    java.nio.file.Files.delete(frontierFile)
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
      // open-frontier contract the re-bucketing migration honors)
      assert(h3.daemon.ingestedCount < nLife1,
        s"summary-loss recovery left closed history resident: " +
          s"${h3.daemon.ingestedCount} entries")
      assert(java.nio.file.Files.readString(frontierFile)
        .contains(s""""span":$expectedSpan2"""),
        "the recovered span must be re-persisted by the next flush")
    } finally {
      h3.stop(); s3.shutdownNow(); s3.awaitTermination(5, TimeUnit.SECONDS)
    }
    val pulses3 = storeTable(base, "pulses").collect()
    assert(pulses3.length == nTotal3, s"duplicate or lost rows after span " +
      s"recovery: ${pulses3.length} rows for $nTotal3 pulses")
    assert(pulses3.map(_.getAs[Long]("pulse_number")).distinct.length == nTotal3)
  }

  test("an interrupted re-bucketing migration recovers from either crash window on the next start") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 6,
      startPulse = start)
    // span 10 = one pulse per bucket; re-bucket past 1 dir, so the two
    // pulses' fine layout (2 dirs) migrates to the coarse span (1 dir)
    val cfg = fastCfg.copy(flushBucketSpan = 10L, maxPulseBuckets = 1)
    val coarse = Ingest.spanForExtent(start, start + delta,
      cfg.flushBucketSpan, cfg.maxPulseBuckets)
    val pulseRows = Seq(
      StorePulse(start, start - delta, start + delta, true, true, 2, 6L),
      StorePulse(start + delta, start, start + 2 * delta, true, true, 2, 6L))
    def manifestDirs(base: String) = TableManifest.latest(
      new org.apache.hadoop.fs.Path(s"$base/pulses")
        .getFileSystem(spark.sparkContext.hadoopConfiguration), s"$base/pulses")
      .map(_.partitions.keySet)

    // ---- window 2: original already deleted, rename pending — the
    // sibling holds a COMMITTED manifest of the complete re-bucketed copy
    // and seed must finish the swap (without this the dimension would
    // read as absent and the next flush would seed from an empty register)
    val base2 = java.nio.file.Files.createTempDirectory("graft-migrate-w2").toString
    (0 until 2).foreach { i =>
      PulseWriter.commitPulse(wire.filter(col("pulse_number") === start + i * delta), base2)
    }
    writeStorePulses(base2, pulseRows, span = coarse, table = "pulses_migrating")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base2/pulses_migrating/_frontier.json"),
      s"""{"seq_pulse":${start + delta},"frontier_bucket":${(start + delta) / coarse},"span":$coarse}"""
        .getBytes("UTF-8"))
    // no $base2/pulses at all — the exact on-disk state of a crash
    // between the original's delete and the sibling's rename
    val s2 = bindOn(0, new ReplayExporter(wire))
    val h2 = Ingest.bootstrap(spark, base2, "localhost", s2.getPort, start, cfg)
    try {
      assert(!new java.io.File(s"$base2/pulses_migrating").exists(),
        "recovery must consume the staged sibling")
      assert(manifestDirs(base2).contains(Set(s"pulse_bucket=${start / coarse}")))
      val rec = storeTable(base2, "pulses").orderBy("pulse_number").collect()
      assert(rec.length == 2)
      assert(rec.forall(_.getAs[Boolean]("is_sequential")))
      assert(rec.map(_.getAs[Long]("record_amount")).toSeq == Seq(6L, 6L))
      // the recovered dimension SEEDED the register: both pulses known,
      // cursor resumed past them, nothing re-fetched
      assert(h2.daemon.ingestedCount == 2)
      assert(h2.daemon.cursor == start + 2 * delta)
    } finally {
      h2.stop(); s2.shutdownNow(); s2.awaitTermination(5, TimeUnit.SECONDS)
    }

    // ---- window 1: crash DURING the sibling write — data files but no
    // manifest; the fine-span original is still the truth, so seed must
    // drop the partial sibling and redo the migration from it
    val base1 = java.nio.file.Files.createTempDirectory("graft-migrate-w1").toString
    (0 until 2).foreach { i =>
      PulseWriter.commitPulse(wire.filter(col("pulse_number") === start + i * delta), base1)
    }
    writeStorePulses(base1, pulseRows, span = cfg.flushBucketSpan)
    assert(manifestDirs(base1).exists(_.size == 2), "fixture needs 2 fine dirs")
    val partial = new java.io.File(s"$base1/pulses_migrating/pulse_bucket=${start / coarse}")
    assert(partial.mkdirs())
    java.nio.file.Files.write(partial.toPath.resolve("part-00000.parquet"),
      Array[Byte](0x50, 0x41, 0x52)) // truncated mid-write
    val s1 = bindOn(0, new ReplayExporter(wire))
    val h1 = Ingest.bootstrap(spark, base1, "localhost", s1.getPort, start, cfg)
    try {
      assert(!new java.io.File(s"$base1/pulses_migrating").exists(),
        "a partial sibling next to an intact original must be discarded")
      assert(manifestDirs(base1).contains(Set(s"pulse_bucket=${start / coarse}")),
        s"the re-migration must commit the coarse layout: ${manifestDirs(base1)}")
      val rec = storeTable(base1, "pulses").orderBy("pulse_number").collect()
      assert(rec.length == 2)
      assert(rec.map(_.getAs[Long]("record_amount")).toSeq == Seq(6L, 6L))
    } finally {
      h1.stop(); s1.shutdownNow(); s1.awaitTermination(5, TimeUnit.SECONDS)
    }
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
      assert(body.contains("# TYPE gbe_ingest_commit_ms_sum counter"), body)
    } finally {
      ops.stop(0)
      handle.stop()
      server.shutdownNow(); server.awaitTermination(5, TimeUnit.SECONDS)
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
    PulseWriter.writePulsePartition(Spine(wire), "records", base, pulses = Some(Seq(start)))
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
    // complete∧sequential prefix is summarized to the _frontier.json
    // cursor each flush, so a decade of history must not be collected
    // onto the driver at every restart (the reference's controller also
    // registers only incomplete pulses, controller.go:124-132)
    val base = java.nio.file.Files.createTempDirectory("graft-daemon-longhist").toString
    val span = 100L // 10 pulses per bucket at delta=10
    val nClosed = 500
    val openIdx = 500 to 502
    writeStorePulses(base, (0 until nClosed).map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, true, true, 2, 8L, 2L)
    } ++ openIdx.map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, false, false, 2, 8L, 2L)
    }, span = span)
    // records/drops exist for the OPEN pulses (their covers reload from
    // the drops partitions); the closed prefix needs no fact partitions
    // for this test — nothing may read it
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 3, recordsPerPulse = 8,
      startPulse = start + 500 * delta)
    openIdx.foreach { i =>
      PulseWriter.commitPulse(
        wire.filter(col("pulse_number") === start + i * delta), base)
    }
    // a STALE summary (crash between a flush and its summary write):
    // points a couple of pulses LOW — the seed must read the superset
    // and re-derive the true marks from the rows
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/pulses/_frontier.json"),
      s"""{"seq_pulse":${start + 497 * delta},"frontier_bucket":${(start + 498 * delta) / span},"span":$span}"""
        .getBytes("UTF-8"))

    // count input rows of the SEED's OWN jobs only: the shared test
    // session may run other suites' jobs concurrently, so the listener
    // filters to the job group set on the seeding thread (seed() runs
    // synchronously inside start(), inheriting the group)
    val recordsRead = new java.util.concurrent.atomic.AtomicLong()
    val groupId = s"seed-pin-${System.nanoTime()}"
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            groupId == j.properties.getProperty("spark.jobGroup.id"))
          j.stageIds.foreach(groupStages.add(_))
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null && groupStages.contains(t.stageId))
          recordsRead.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    val headOnly = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        throw new Transport.PulseNotFound(pulse)
    }
    spark.sparkContext.addSparkListener(listener)
    val daemon = try {
      spark.sparkContext.setJobGroup(groupId, "seed read pin", false)
      val d = try new Ingest.Daemon(spark, base, headOnly, start,
        fastCfg.copy(flushBucketSpan = span)).start()
      finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // let the async listener bus drain the seed jobs
      d
    } finally spark.sparkContext.removeSparkListener(listener)
    try {
      // THE PIN: the seed collected the frontier buckets only — the open
      // pulses plus the handful of closed rows sharing their bucket —
      // and its Spark jobs read rows in that order of magnitude, not 503
      assert(daemon.ingestedCount <= 20,
        s"seed collected ${daemon.ingestedCount} entries — O(history), not O(frontier)")
      assert(daemon.ingestedCount >= openIdx.size)
      assert(recordsRead.get() <= 100L,
        s"seed read ${recordsRead.get()} rows — the closed prefix leaked into the scan")
      // stale summary re-derived: the seed starts at the TRUE mark (499),
      // never the summary's stale 497 (≥, because the live sequencer may
      // already have advanced past it during the listener-drain sleep)
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
    val summary = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/pulses/_frontier.json")), "UTF-8")
    assert(summary.contains(s""""seq_pulse":${start + 502 * delta}"""), summary)
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

  test("a gap-backfill flush LOWERS the frontier summary before the data write: " +
      "the on-disk summary never points above an on-disk open pulse") {
    // the crash-window defense: if the summary could stay above a newly
    // landed below-frontier pulse until the post-data raise, a crash in
    // between would make the bounded seed skip that pulse forever. The
    // poller samples both the summary and the pulse's bucket directory;
    // at the first instant the backfilled bucket exists on disk, the
    // summary must already point at or below it (the pre-write runs
    // hundreds of ms before the Spark write commits).
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
    val halfP2 = new ReplayExporter(wire.filter(
      col("pulse_number") =!= p2 || col("jet_id") === "0"))
    @volatile var releaseGap = false
    val gated = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        pulse match {
          case `p1` if !releaseGap => throw new Transport.PulseNotFound(pulse)
          case `p2` => halfP2.export(pulse, recordNumber, count) // never completes
          case _ => full.export(pulse, recordNumber, count)
        }
    }
    def summaryBucket(): Option[Long] = {
      val f = java.nio.file.Paths.get(s"$base/pulses/_frontier.json")
      if (!java.nio.file.Files.exists(f)) None
      else """"frontier_bucket":(-?\d+)""".r
        .findFirstMatchIn(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
        .map(_.group(1).toLong)
    }
    val p1Dir = java.nio.file.Paths.get(s"$base/pulses/pulse_bucket=${p1 / span}")
    @volatile var violation: String = null
    @volatile var sawP1Dir = false
    val poller = new Thread(() => {
      while (violation == null && !sawP1Dir) {
        if (java.nio.file.Files.exists(p1Dir)) {
          sawP1Dir = true
          val sb = summaryBucket()
          if (!sb.exists(_ <= p1 / span))
            violation = s"p1's bucket landed while the summary points at $sb"
        }
        Thread.sleep(2)
      }
    }, "frontier-poller")
    val daemon = new Ingest.Daemon(spark, base, gated, start, cfg).start()
    try {
      // p0 closes; the probe finds p2 (half cover, stays open); the first
      // flush records the frontier at p2's bucket with p1 unknown
      assert(await()(daemon.snapshot.contains(p2) &&
        summaryBucket().contains(p2 / span)),
        s"fixture never reached the high-frontier state: known=" +
          s"${daemon.snapshot.keySet}, summary=${summaryBucket()}")
      poller.start()
      // release the gap: the stalled sequencer re-requests p1, whose
      // commit backfills BELOW the recorded frontier
      releaseGap = true
      assert(await()(sawP1Dir), "the backfilled pulse never reached disk")
      poller.join(5000)
      assert(violation == null, String.valueOf(violation))
      // the backfill then chains and sequences normally (p2 stays open on
      // its half cover; the summary tracks whatever the frontier is now)
      assert(await()(daemon.sequentialPulse == p1),
        s"backfilled pulse never sequenced: ${daemon.snapshot}")
      assert(summaryBucket().exists(_ <= p2 / span), s"summary=${summaryBucket()}")
    } finally {
      if (poller.isAlive) { sawP1Dir = true; poller.join(2000) }
      daemon.stop()
    }
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
}
