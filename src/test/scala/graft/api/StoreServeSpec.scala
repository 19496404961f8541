package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._

import graft.{Ingest, SparkSpec}
import graft.gen.Fixtures
import graft.ingest.{GrpcTransport, PulseWriter, ReplayExporter}
import graft.model.{Domain, StoreViews}

/** End-to-end ingest→serve consistency — the loop the reference's
  * heavy_mock suites close (the `test/api` endpoint tests: an API server reading
  * the store the block-explorer binary populated): the SAME fixture is
  * ingested once THROUGH the live daemon over the real gRPC wire and
  * once through the direct commit path, then every read endpoint is
  * served over HTTP from both stores and the responses must be
  * byte-identical. Pins that the daemon's write path (spine, partition
  * commits, bucketed pulses flush, flag maintenance) produces a store
  * the serving layer cannot tell apart from a directly-built one.
  */
class StoreServeSpec extends SparkSpec {

  private val start = Fixtures.GenesisPulse + Fixtures.PulseDelta
  private val delta = Fixtures.PulseDelta
  private val nPulses = 3
  private val perPulse = 12

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:$port/api/v1$path")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("a daemon-ingested store serves every endpoint byte-identically to a " +
      "directly-built store, and an ingest store serves at all (heavy_mock loop)") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses, perPulse, startPulse = start)

    // ---- store A: through the LIVE daemon over the real wire ------------
    val baseA = java.nio.file.Files.createTempDirectory("graft-serve-daemon").toString
    val server = org.sparkproject.connect.grpc.netty.NettyServerBuilder.forPort(0)
      .addService(GrpcTransport.recordService(new ReplayExporter(wire))).build().start()
    val handle = Ingest.bootstrap(spark, baseA, "localhost", server.getPort, start,
      Ingest.Config(pulsePeriodMs = 150L, sequentialPeriodMs = 50L,
        headPauseMs = 100L, errorPauseMs = 100L, batchSize = 7, fetchBackoffMs = 5L))
    try {
      val lastPulse = start + (nPulses - 1) * delta
      val t0 = System.nanoTime()
      while (handle.daemon.sequentialPulse != lastPulse &&
        (System.nanoTime() - t0) / 1e9 < 60) Thread.sleep(50)
      assert(handle.daemon.sequentialPulse == lastPulse,
        s"daemon never converged: ${handle.daemon.snapshot}")
    } finally {
      handle.stop()
      server.shutdownNow(); server.awaitTermination(5, TimeUnit.SECONDS)
    }

    // ---- store B: the direct commit path + a hand-built pulses dim ------
    val baseB = java.nio.file.Files.createTempDirectory("graft-serve-direct").toString
    (0 until nPulses).foreach { i =>
      PulseWriter.commitPulse(
        wire.filter(col("pulse_number") === start + i * delta), baseB)
    }
    writeStorePulses(baseB, (0 until nPulses).map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, true, true, 2, perPulse.toLong)
    })

    assert(StoreViews.isStore(spark, baseA) && StoreViews.isStore(spark, baseB))

    // a lifeline key from the store itself (identity refs serve as
    // 64-bit keys — StoreViews.records); same fixture → same key in B
    val lifelineKey = Domain.servedRecords(spark, baseA)
      .filter(col("pulse_number") === start && col("order") === 1 && col("jet_id") === "0")
      .select(col("object_reference")).head().getLong(0)

    val p1 = start + delta
    val paths = Seq(
      "/pulses",
      "/pulses?limit=2&offset=1&sort_by=pulse_number_asc",
      s"/pulses/$p1",
      s"/pulses/$p1/jet-drops",
      s"/jet-drops/0:$p1",
      s"/jet-drops/0:$p1/records",
      s"/jet-drops/1:$p1/records?limit=3&offset=2",
      "/jets/*/jet-drops",
      s"/jets/0/jet-drops?pulse_number_gt=$start",
      s"/lifeline/$lifelineKey/records")

    val hA = HttpApi.start(spark, baseA, port = 0, poolSize = 2)
    val hB = HttpApi.start(spark, baseB, port = 0, poolSize = 2)
    try {
      paths.foreach { path =>
        val (sA, bA) = get(hA.port, path)
        val (sB, bB) = get(hB.port, path)
        assert(sA == 200, s"$path over the daemon store: $sA ${bA.take(200)}")
        assert(sB == 200, s"$path over the direct store: $sB ${bB.take(200)}")
        assert(bA == bB, s"$path diverged:\n A=${bA.take(400)}\n B=${bB.take(400)}")
      }
      // spot semantics, not just mutual agreement
      val (_, pulsesBody) = get(hA.port, "/pulses")
      assert(pulsesBody.startsWith(s"""{"total":$nPulses,"result":["""))
      val (_, lifelineBody) = get(hA.port, s"/lifeline/$lifelineKey/records")
      assert(lifelineBody.contains(""""total":1"""), lifelineBody.take(200))
      val (_, dropRecsBody) = get(hA.port, s"/jet-drops/0:$p1/records")
      assert(dropRecsBody.contains(s""""total":${perPulse / 2}"""), dropRecsBody.take(200))
      // point-lookup 404 parity on the store path
      assert(get(hA.port, s"/pulses/${start - delta}")._1 == 404)
    } finally {
      hA.stop(); hB.stop()
    }

    // 100 TB shape pin: on the store layout pulse_number is a PARTITION
    // column, so a pulse-bounded endpoint read must prune to that
    // pulse's directory — the scan's partition filters carry the
    // predicate and the planned read touches exactly one partition
    val bounded = Domain.servedRecords(spark, baseA)
      .filter(col("pulse_number") === p1)
    val scans = bounded.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      s"pulse predicate did not reach the partition filters:\n${bounded.queryExecution}")
    assert(scans.map(_.selectedPartitions.partitionCount).sum == 1,
      "a one-pulse read must touch exactly one pulse partition")
  }

  test("a store base dir probed BEFORE the daemon's first commit serves " +
      "schema-stable empty pages, not 500s (the startup window)") {
    // deploy shape: daemon and API started together on a fresh base —
    // until the first commit creates records/, the dir is ambiguous and
    // must route to the store's empty-frame machinery (the corpus path
    // would throw on the missing events.parquet)
    val fresh = java.nio.file.Files.createTempDirectory("graft-serve-fresh").toString
    assert(StoreViews.isStore(spark, fresh), "ambiguous dir must answer store")
    val h = HttpApi.start(spark, fresh, port = 0, poolSize = 2)
    try {
      val (s1, b1) = get(h.port, "/pulses")
      assert(s1 == 200 && b1.startsWith("""{"total":0"""), s"$s1 ${b1.take(200)}")
      val (s2, b2) = get(h.port, "/jets/*/jet-drops")
      assert(s2 == 200, s"$s2 ${b2.take(200)}")
      assert(get(h.port, s"/pulses/$start")._1 == 404)
    } finally h.stop()
    // the ambiguous verdict is NOT frozen: once a corpus marker appears,
    // the same dir routes as corpus
    assert(StoreViews.isStore(spark, fresh), "still ambiguous, still a store")
  }

  test("base58 reference lookups and prototype-filtered subscriptions work " +
      "over a store: refs key by xxhash64 of the stored bytes, not low-8") {
    val base = java.nio.file.Files.createTempDirectory("graft-serve-refs").toString
    // real deployments carry 36-byte references on the wire (the shape
    // the HTTP edge's checkReference gate requires); pad the fixture's
    // short ids to that layout so the store holds realistic refs
    def pad36(b: Array[Byte]): Array[Byte] =
      if (b == null) null else java.util.Arrays.copyOf(b, 36)
    val paddedRows = Fixtures.multiPulseBatches(spark, 2, perPulse, startPulse = start)
      .collect().map { r =>
        org.apache.spark.sql.Row(
          r.getAs[Long]("record_number"), pad36(r.getAs[Array[Byte]]("id")),
          pad36(r.getAs[Array[Byte]]("object_id")), r.getAs[String]("jet_id"),
          r.getAs[String]("virtual_type"), pad36(r.getAs[Array[Byte]]("image")),
          r.getAs[Array[Byte]]("memory"), r.getAs[Array[Byte]]("prev_state_id"),
          r.getAs[Array[Byte]]("raw_data"), r.getAs[Long]("pulse_number"))
      }
    import scala.jdk.CollectionConverters._
    val wire = spark.createDataFrame(paddedRows.toSeq.asJava,
      graft.model.Schemas.wireRecords)
    (0 until 2).foreach { i =>
      PulseWriter.commitPulse(
        wire.filter(col("pulse_number") === start + i * delta), base)
    }
    writeStorePulses(base, (0 until 2).map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, true, true, 2, perPulse.toLong)
    })

    // raw STORED bytes (the storage schema keeps references binary)
    val raw = storeTable(base, "records")
    val rec = raw.filter(col("object_reference").isNotNull).select(
      col("reference"), col("object_reference")).head()
    val recBytes = rec.getAs[Array[Byte]]("reference")
    val objBytes = rec.getAs[Array[Byte]]("object_reference")

    val h = HttpApi.start(spark, base, port = 0, poolSize = 2)
    try {
      // lifeline by the full base58 form of the STORED object bytes: the
      // serving key is xxhash64(bytes) (StoreViews.refKey) — a low-8-byte
      // extraction could never match it
      val (ls, lb) = get(h.port, s"/lifeline/${graft.functions.Codecs
        .referenceToString(objBytes)}/records")
      assert(ls == 200, s"$ls ${lb.take(200)}")
      assert(!lb.startsWith("""{"total":0"""),
        s"base58 lifeline over a store found nothing: ${lb.take(120)}")
      // search by the record's own base58 reference resolves to it
      val (ss, sb) = get(h.port, s"/search?value=${java.net.URLEncoder.encode(
        graft.functions.Codecs.referenceToString(recBytes), "UTF-8")}")
      assert(ss == 200 && sb.contains(""""type":"record""""), s"$ss ${sb.take(200)}")
    } finally h.stop()

    // prototype-filtered exporter poll over the store layout: the long
    // column must be matched by hashing the wire bytes, never by binary
    // isin (which throws and kills the stream)
    val records = graft.model.StoreViews.records(spark, base)
    val pulses = graft.model.StoreViews.pulses(spark, base)
    val protoRow = raw.filter(col("prototype_reference").isNotNull)
      .select(col("prototype_reference")).head()
    val protoBytes = protoRow.getAs[Array[Byte]]("prototype_reference")
    val expected = raw.filter(col("pulse_number") === (start + delta).toInt)
      .filter(col("prototype_reference") === protoBytes).count()
    val got = graft.streaming.PulseFeed.nextCompletePulseFiltered(
      pulses, records, start, Seq(protoBytes)).collect()
    if (expected > 0) {
      assert(got.length == 1 && got.head.getAs[Long]("record_amount") == expected,
        s"filtered recount diverged: got=${got.mkString(",")} expected=$expected")
    } else assert(got.isEmpty)
    // an unmatched filter is empty, not an AnalysisException
    assert(graft.streaming.PulseFeed.nextCompletePulseFiltered(
      pulses, records, start, Seq(Array[Byte](1, 2, 3))).collect().isEmpty)
  }

  test("reads racing a reload's rewrite of the SAME pulse ALWAYS serve a " +
      "committed page — zero 500s, zero torn or empty pages") {
    // the manifest isolation contract (StoreViews.scala): every read
    // plans over a committed snapshot's explicit file set and a
    // superseded file stays on disk for the retention window however
    // many commits land, so a racing hot-pulse rewrite can produce
    // neither a lost-file 500 nor a page MIXING the two versions
    val base = java.nio.file.Files.createTempDirectory("graft-serve-race").toString
    val wireA = Fixtures.multiPulseBatches(spark, 2, perPulse, startPulse = start)
    // version B: same rows, different payload bytes — so a page mixing
    // file versions is DETECTABLE, not coincidentally byte-identical
    val wireB = wireA.withColumn("memory",
      concat(col("memory"), lit(Array[Byte](0x42))))
    (0 until 2).foreach { i =>
      PulseWriter.commitPulse(
        wireA.filter(col("pulse_number") === start + i * delta), base)
    }
    writeStorePulses(base, (0 until 2).map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, true, true, 2, perPulse.toLong)
    })

    val hot = start + delta
    val path = s"/jet-drops/0:$hot/records"
    val h = HttpApi.start(spark, base, port = 0, poolSize = 4)
    try {
      // the two committed page versions, captured at rest
      val bodyA = { val (s0, b0) = get(h.port, path); assert(s0 == 200, b0.take(200)); b0 }
      PulseWriter.commitPulse(wireB.filter(col("pulse_number") === hot), base)
      val bodyB = { val (s1, b1) = get(h.port, path); assert(s1 == 200, b1.take(200)); b1 }
      assert(bodyA != bodyB, "versions must be distinguishable for the race to be observable")

      @volatile var writing = true
      val writerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        try {
          var i = 0
          while (i < 14) { // ~alternating reloads of the hot pulse
            val w = if (i % 2 == 0) wireA else wireB
            PulseWriter.commitPulse(w.filter(col("pulse_number") === hot), base)
            i += 1
          }
        } catch { case t: Throwable => writerFailure.set(t) }
        finally writing = false
      }, "race-writer")

      val outcomes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
      def bump(k: String): Unit = outcomes.merge(k, 1, (a, b) => a + b)
      val torn = new java.util.concurrent.atomic.AtomicReference[String]()
      val readers = (0 until 3).map(r => new Thread(() => {
        val cl = HttpClient.newHttpClient()
        var go = true
        while (go && writing && torn.get == null) {
          val resp = cl.send(HttpRequest.newBuilder(
            URI.create(s"http://localhost:${h.port}/api/v1$path")).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          (resp.statusCode(), resp.body()) match {
            case (200, b) if b == bodyA => bump("200-A")
            case (200, b) if b == bodyB => bump("200-B")
            case (s, b) =>
              // a 500 is a FAILURE here now: manifested reads must never
              // lose a file to the racing rewrite
              torn.compareAndSet(null, s"status=$s body=${b.take(400)}")
              go = false
          }
        }
      }, s"race-reader-$r"))
      writer.start(); readers.foreach(_.start())
      writer.join(120000); readers.foreach(_.join(10000))
      assert(writerFailure.get == null, s"writer died: ${writerFailure.get}")
      assert(torn.get == null,
        s"torn/empty page under a racing reload: ${torn.get}\noutcomes=$outcomes")
      val served = outcomes.getOrDefault("200-A", 0) + outcomes.getOrDefault("200-B", 0)
      assert(served > 0, s"the endpoint never served during the race: $outcomes")
    } finally h.stop()
  }

  test("a pulse's drops page and a drop's records page, read in the driver " +
      "while that pulse is re-committed, ALWAYS answer 200 with one committed " +
      "version's body") {
    val base = java.nio.file.Files.createTempDirectory("graft-serve-race-driver").toString
    val wireA = Fixtures.multiPulseBatches(spark, 2, perPulse, startPulse = start)
    // version B: one record fewer (the drop's count moves) and different
    // payload bytes, so a page mixing the versions is detectable on both
    val wireB = wireA.filter(col("record_number") =!= 0L)
      .withColumn("memory", concat(col("memory"), lit(Array[Byte](0x42))))
    (0 until 2).foreach { i =>
      PulseWriter.commitPulse(wireA.filter(col("pulse_number") === start + i * delta), base)
    }
    writeStorePulses(base, (0 until 2).map { i =>
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, true, true, 2, perPulse.toLong)
    })
    val hot = start + delta
    def commit(w: org.apache.spark.sql.DataFrame): Unit = {
      PulseWriter.commitPulse(w.filter(col("pulse_number") === hot), base); ()
    }
    val paths = Seq(s"/pulses/$hot/jet-drops", s"/jet-drops/0:$hot/records")
    val h = HttpApi.start(spark, base, port = 0, poolSize = 4)
    try {
      def bodies() = paths.map { path =>
        val (s, b) = get(h.port, path); assert(s == 200, s"$path: $s ${b.take(200)}"); b
      }
      val bodiesA = bodies()
      commit(wireB)
      val bodiesB = bodies()
      paths.indices.foreach(i => assert(bodiesA(i) != bodiesB(i),
        s"${paths(i)}: versions must be distinguishable for the race to be observable"))

      @volatile var writing = true
      val writerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        try (0 until 14).foreach(i => commit(if (i % 2 == 0) wireA else wireB))
        catch { case t: Throwable => writerFailure.set(t) }
        finally writing = false
      }, "race-driver-writer")
      val torn = new java.util.concurrent.atomic.AtomicReference[String]()
      val served = new java.util.concurrent.atomic.AtomicLongArray(paths.length)
      val readers = paths.indices.flatMap(i => (0 until 2).map(r => new Thread(() => {
        val cl = HttpClient.newHttpClient()
        while (writing && torn.get == null) {
          val resp = cl.send(HttpRequest.newBuilder(
            URI.create(s"http://localhost:${h.port}/api/v1${paths(i)}")).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          (resp.statusCode(), resp.body()) match {
            case (200, b) if b == bodiesA(i) || b == bodiesB(i) => served.incrementAndGet(i)
            case (s, b) => torn.compareAndSet(null, s"${paths(i)} status=$s body=${b.take(400)}")
          }
        }
      }, s"race-driver-reader-$i-$r")))
      writer.start(); readers.foreach(_.start())
      writer.join(120000); readers.foreach(_.join(10000))
      assert(writerFailure.get == null, s"writer died: ${writerFailure.get}")
      assert(torn.get == null, s"an answer that is no committed version's page: ${torn.get}")
      paths.indices.foreach(i =>
        assert(served.get(i) > 0, s"${paths(i)} never served during the race"))
    } finally h.stop()
  }

  test("GET /pulses racing a manifested pulses-dimension reflush ALWAYS " +
      "serves a committed page — the index fast path under dim churn, " +
      "zero 500s, while superseded manifests and files are retained") {
    val base = java.nio.file.Files.createTempDirectory("graft-pulses-race").toString
    // a records/ dir makes it a store
    PulseWriter.commitPulse(
      Fixtures.multiPulseBatches(spark, 2, 4, startPulse = start), base)
    def flush(recordAmount: Long): Unit =
      writeStorePulses(base, (0 until 2).map { i =>
        val p = start + i * delta
        StorePulse(p, p - delta, p + delta, true, true, 2, recordAmount)
      })
    flush(4L)
    val h = HttpApi.start(spark, base, port = 0, poolSize = 4)
    try {
      val bodyA = { val (s0, b0) = get(h.port, "/pulses"); assert(s0 == 200, b0.take(200)); b0 }
      flush(5L)
      val bodyB = { val (s1, b1) = get(h.port, "/pulses"); assert(s1 == 200, b1.take(200)); b1 }
      assert(bodyA != bodyB, "dim versions must be distinguishable")

      @volatile var writing = true
      val writerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        try { var i = 0; while (i < 12) { flush(if (i % 2 == 0) 4L else 5L); i += 1 } }
        catch { case t: Throwable => writerFailure.set(t) }
        finally writing = false
      }, "pulses-race-writer")
      val torn = new java.util.concurrent.atomic.AtomicReference[String]()
      val served = new java.util.concurrent.atomic.AtomicLong()
      val readers = (0 until 3).map(r => new Thread(() => {
        val cl = HttpClient.newHttpClient()
        while (writing && torn.get == null) {
          val resp = cl.send(HttpRequest.newBuilder(
            URI.create(s"http://localhost:${h.port}/api/v1/pulses")).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          (resp.statusCode(), resp.body()) match {
            case (200, b) if b == bodyA || b == bodyB => served.incrementAndGet()
            case (s, b) => torn.compareAndSet(null, s"status=$s body=${b.take(400)}")
          }
        }
      }, s"pulses-race-reader-$r"))
      writer.start(); readers.foreach(_.start())
      writer.join(120000); readers.foreach(_.join(10000))
      assert(writerFailure.get == null, s"writer died: ${writerFailure.get}")
      assert(torn.get == null, s"non-committed pulses page under dim churn: ${torn.get}")
      assert(served.get > 0, "the endpoint never served during the race")
      val manifests = new java.io.File(s"$base/pulses/_manifests").list()
        .count(_.matches("v\\d+\\.json"))
      assert(manifests == 14, s"all 14 flushes are inside the retention window: $manifests")
    } finally h.stop()
  }

  test("the live chain index follows a pulses append: version-keyed cache " +
      "rebuilds on change and reuses the instance when nothing moved") {
    val base = java.nio.file.Files.createTempDirectory("graft-serve-chain").toString
    def pulseRow(i: Int) = {
      val p = start + i * delta
      StorePulse(p, p - delta, p + delta, true, true, 2, 12L)
    }
    // a records/ dir makes it a store; pulses starts with two rows
    PulseWriter.commitPulse(
      Fixtures.multiPulseBatches(spark, 1, 6, startPulse = start), base)
    writeStorePulses(base, (0 until 2).map(pulseRow))

    val idx1 = Domain.pulseChainIndex(spark, base)
    assert(idx1.size == 2 && idx1.exists(start + delta))
    assert(Domain.pulseChainIndex(spark, base) eq idx1,
      "unchanged store must reuse the cached index (no rebuild per request)")

    // a later flush adds a third pulse (its bucket's rows → new version)
    writeStorePulses(base, (0 until 3).map(pulseRow))
    val idx2 = Domain.pulseChainIndex(spark, base)
    assert(idx2.size == 3 && idx2.exists(start + 2 * delta),
      "chain index must rebuild when the pulses dimension moves")
  }
}
