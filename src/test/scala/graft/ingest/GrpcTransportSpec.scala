package graft.ingest

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.sparkproject.connect.grpc.{ManagedChannel, Server, ServerServiceDefinition}
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.stub.{ServerCallStreamObserver, ServerCalls, StreamObserver}

import graft.SparkSpec
import graft.gen.Fixtures

/** The S1/S2 transport over the REAL wire: a netty gRPC server on a
  * localhost TCP socket (real HTTP/2 framing, real proto3 bytes — the
  * in-process transport skips marshalling, so every test here binds a
  * socket) serving `exporter.RecordExporter/Export` from the same
  * [[ReplayExporter]] the replay-harness contract tests use, consumed
  * through [[GrpcTransport.GrpcRecordStream]]. The heavymock analog
  * (`test/heavymock/exporter_impl.go:28-50`) with the full status
  * mapping: NOT_FOUND, RESOURCE_EXHAUSTED, UNAVAILABLE mid-stream.
  */
class GrpcTransportSpec extends SparkSpec {

  private val start = Fixtures.GenesisPulse + Fixtures.PulseDelta
  private def noSleep: Long => Unit = _ => ()

  // the wire-side bridge ([[GrpcTransport.recordService]]) serves the
  // replay harness — fault injection included — over real netty sockets

  /** Run `body` against a live netty server + channel for `stream`. */
  private def overWire[A](stream: Transport.RecordStream)(
      body: Transport.RecordStream => A): A =
    overService(GrpcTransport.recordService(stream))(body)

  /** Run `body` against a live netty server + channel for `service`. */
  private def overService[A](service: ServerServiceDefinition)(
      body: Transport.RecordStream => A): A = {
    val server: Server = NettyServerBuilder.forPort(0)
      .addService(service).build().start()
    val ch: ManagedChannel = GrpcTransport.channel("localhost", server.getPort)
    try body(new GrpcTransport.GrpcRecordStream(ch))
    finally {
      GrpcTransport.close(ch)
      server.shutdownNow()
      server.awaitTermination(5, TimeUnit.SECONDS)
    }
  }

  // ---- codecs (pure round-trips, independent of any server) ------------

  test("proto codecs round-trip every message, omitting defaults like proto3") {
    val gr = GrpcWire.GetRecords(70010L, 40, 100)
    assert(GrpcWire.decodeGetRecords(GrpcWire.encodeGetRecords(gr)) == gr)
    assert(GrpcWire.encodeGetRecords(GrpcWire.GetRecords(0, 0, 0)).isEmpty,
      "all-default message must encode to zero bytes")

    val f = GrpcWire.RecordFrame(7L, Array[Byte](1, 2), Array[Byte](3), "0101",
      "state", null, Array[Byte](4, 5, 6), null, Array[Byte](9), 70010L, 70040L)
    val back = GrpcWire.decodeRecordFrame(GrpcWire.encodeRecordFrame(f))
    assert(back.recordNumber == 7L && back.pulseNumber == 70010L &&
      back.shouldIterateFrom == 70040L)
    assert(back.id.toSeq == Seq[Byte](1, 2) && back.objectId.toSeq == Seq[Byte](3))
    assert(back.jetId == "0101" && back.virtualType == "state")
    assert(back.image != null && back.image.isEmpty,
      "absent bytes fields read back as empty — proto3 has no null, and a " +
        "uniform empty default keeps wire-ingested rows in one canon")
    assert(back.memory.toSeq == Seq[Byte](4, 5, 6) && back.rawData.toSeq == Seq[Byte](9))

    val req = GrpcWire.GetNextPulseRequest(70000L, Seq(Array[Byte](1), Array[Byte](2, 3)))
    val reqBack = GrpcWire.decodeNextPulseRequest(GrpcWire.encodeNextPulseRequest(req))
    assert(reqBack.pulseNumberFrom == 70000L)
    assert(reqBack.prototypes.map(_.toSeq) == Seq(Seq[Byte](1), Seq[Byte](2, 3)))

    val resp = GrpcWire.GetNextPulseResponse(70010L, 70000L, 42L)
    assert(GrpcWire.decodeNextPulseResponse(GrpcWire.encodeNextPulseResponse(resp)) == resp)
  }

  test("golden wire bytes: the exporter-api messages encode exactly as canonical proto3") {
    // hand-computed canonical encoding — what a protoc-generated Go
    // client (the reference's) produces and parses for
    // pulse_exporter.proto. varint(70010)=FA A2 04, varint(70000)=F0 A2 04
    val resp = GrpcWire.encodeNextPulseResponse(GrpcWire.GetNextPulseResponse(70010L, 70000L, 42L))
    assert(resp.toSeq == Seq(0x08, 0xFA, 0xA2, 0x04, 0x10, 0xF0, 0xA2, 0x04, 0x18, 0x2A)
      .map(_.toByte))
    val req = GrpcWire.encodeNextPulseRequest(
      GrpcWire.GetNextPulseRequest(70000L, Seq(Array[Byte](1))))
    assert(req.toSeq == Seq(0x08, 0xF0, 0xA2, 0x04, 0x12, 0x01, 0x01).map(_.toByte))
    // and the reverse direction parses reference-produced bytes
    assert(GrpcWire.decodeNextPulseResponse(resp) ==
      GrpcWire.GetNextPulseResponse(70010L, 70000L, 42L))
  }

  test("property: random frames round-trip the codec, edge values included") {
    val rnd = new scala.util.Random(9)
    def bytes(): Array[Byte] =
      if (rnd.nextInt(5) == 0) null else Array.fill(rnd.nextInt(40))(rnd.nextInt().toByte)
    val edgeLongs = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 65536L, 1L << 33)
    def long(): Long =
      if (rnd.nextInt(3) == 0) edgeLongs(rnd.nextInt(edgeLongs.length)) else rnd.nextLong()
    def str(): String =
      if (rnd.nextInt(5) == 0) "" else rnd.alphanumeric.take(rnd.nextInt(20)).mkString + "π☃"
    (0 until 200).foreach { _ =>
      val f = GrpcWire.RecordFrame(long(), Option(bytes()).getOrElse(Array.empty),
        bytes(), str(), str(), bytes(), bytes(), bytes(), bytes(), long(), long())
      val b = GrpcWire.decodeRecordFrame(GrpcWire.encodeRecordFrame(f))
      assert(b.recordNumber == f.recordNumber && b.pulseNumber == f.pulseNumber &&
        b.shouldIterateFrom == f.shouldIterateFrom)
      assert(b.jetId == f.jetId && b.virtualType == f.virtualType)
      // proto3 cannot distinguish absent from empty: both read back as
      // the default — null for the nullable bytes fields, "" for strings
      def canon(a: Array[Byte]): Seq[Byte] = Option(a).fold(Seq.empty[Byte])(_.toSeq)
      assert(canon(b.objectId) == canon(f.objectId) && canon(b.image) == canon(f.image))
      assert(canon(b.memory) == canon(f.memory) && canon(b.prevStateId) == canon(f.prevStateId))
      assert(canon(b.rawData) == canon(f.rawData) && canon(b.id) == canon(f.id))
      val r = GrpcWire.GetNextPulseRequest(long(), Seq.fill(rnd.nextInt(4))(
        Option(bytes()).getOrElse(Array.empty)))
      val rb = GrpcWire.decodeNextPulseRequest(GrpcWire.encodeNextPulseRequest(r))
      assert(rb.pulseNumberFrom == r.pulseNumberFrom)
      assert(rb.prototypes.map(canon) == r.prototypes.map(canon),
        "repeated elements survive in order — empties included (repeated " +
        "fields encode every element, unlike singular proto3 defaults)")
    }
  }

  test("codec skips unknown fields (forward compatibility)") {
    // a future server adding field 15 (varint) must not break this client
    val known = GrpcWire.encodeNextPulseResponse(GrpcWire.GetNextPulseResponse(70010L, 70000L, 1L))
    val unknownField = Array[Byte]((15 << 3).toByte, 1) // field 15, varint, value 1
    val decoded = GrpcWire.decodeNextPulseResponse(known ++ unknownField)
    assert(decoded == GrpcWire.GetNextPulseResponse(70010L, 70000L, 1L))
  }

  test("codec skips a KNOWN field number carrying an unexpected wire type") {
    // proto3 forward compatibility is per (number, type): a peer that
    // re-types field 2 (varint int64 here) as length-delimited must be
    // skipped like an unknown field. A number-only dispatch would read
    // the 3-byte length prefix as the varint value and desync — the
    // trailing field 3 below would be lost or misparsed.
    val retyped = Array[Byte](
      (1 << 3).toByte, 0x07, // field 1 varint 7 (known, kept)
      ((2 << 3) | 2).toByte, 0x03, 0x61, 0x62, 0x63, // field 2 AS bytes "abc" (skipped)
      (3 << 3).toByte, 0x2A) // field 3 varint 42 (must survive the skip)
    val decoded = GrpcWire.decodeNextPulseResponse(retyped)
    assert(decoded == GrpcWire.GetNextPulseResponse(7L, 0L, 42L),
      s"re-typed field must be skipped, trailing fields intact: $decoded")

    // same property on the record frame: bytes field 9 sent as varint
    val f = GrpcWire.RecordFrame(7L, Array[Byte](1), Array.empty, "01", "state",
      Array.empty, Array.empty, Array.empty, Array[Byte](9), 70010L)
    val retypedFrame = GrpcWire.encodeRecordFrame(f) ++
      Array[Byte]((6 << 3).toByte, 0x05) // field 6 (bytes) AS varint 5
    val back = GrpcWire.decodeRecordFrame(retypedFrame)
    assert(back.image.isEmpty && back.rawData.toSeq == Seq[Byte](9) &&
      back.pulseNumber == 70010L)
  }

  test("fuzz: garbage bytes into the codec parse or throw — never hang, never OOM") {
    val rnd = new scala.util.Random(11)
    (0 until 500).foreach { _ =>
      val b = Array.fill(rnd.nextInt(60))(rnd.nextInt().toByte)
      // a hostile peer's bytes either happen to parse or raise the
      // protobuf runtime's bounded error — both acceptable; an unbounded
      // allocation or loop is not (the 60-byte input bounds legal
      // length-delimited claims, and CodedInputStream enforces them)
      try { GrpcWire.decodeRecordFrame(b); () } catch { case _: Exception => () }
      try { GrpcWire.decodeGetRecords(b); () } catch { case _: Exception => () }
      try { GrpcWire.decodeNextPulseRequest(b); () } catch { case _: Exception => () }
      try { GrpcWire.decodeNextPulseResponse(b); () } catch { case _: Exception => () }
    }
  }

  // ---- transport contract over the real wire ---------------------------

  test("portioned fetch over a real socket: EOF reopens, next-pulse marker ends the pulse") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 7,
      startPulse = start)
    val replay = new ReplayExporter(wire)
    val fp = overWire(replay) { grpc =>
      Transport.fetchPulse(grpc, start, batchSize = 3, sleep = noSleep).get
    }
    assert(fp.rows.length == 7)
    assert(fp.rows.map(_.getAs[Long]("record_number")) == (0L until 7L))
    assert(fp.iterateFrom == start + Fixtures.PulseDelta)
    assert(replay.exportCalls >= 3, "batch 3 over 7 records crosses at least 2 EOFs")
    // the payload survives serialization byte-exactly
    val sent = wire.filter(org.apache.spark.sql.functions.col("pulse_number") === start)
      .collect().sortBy(_.getAs[Long]("record_number"))
    fp.rows.zip(sent).foreach { case (got: Row, exp: Row) =>
      assert(got.getAs[Array[Byte]]("id").toSeq == exp.getAs[Array[Byte]]("id").toSeq)
      assert(got.getAs[String]("jet_id") == exp.getAs[String]("jet_id"))
      assert(got.getAs[String]("virtual_type") == exp.getAs[String]("virtual_type"))
    }
  }

  test("a mid-portion UNAVAILABLE reopens at the cursor: nothing lost, nothing doubled") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 9,
      startPulse = start)
    val replay = new ReplayExporter(wire, dropOnceAt = Map(start -> 4))
    val fp = overWire(replay) { grpc =>
      Transport.fetchPulse(grpc, start, batchSize = 20, sleep = noSleep).get
    }
    assert(fp.rows.map(_.getAs[Long]("record_number")) == (0L until 9L))
  }

  test("RESOURCE_EXHAUSTED surfaces as RateLimited: backoff then resume at the cursor") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 5,
      startPulse = start)
    val inner = new ReplayExporter(wire)
    var opens = 0
    val limited = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        opens += 1
        if (opens == 1) throw new Transport.RateLimited("429")
        inner.export(pulse, recordNumber, count)
      }
    }
    var slept = 0L
    val fp = overWire(limited) { grpc =>
      Transport.fetchPulse(grpc, start, batchSize = 10, sleep = ms => slept += ms).get
    }
    assert(fp.rows.length == 5)
    assert(slept > 0)
  }

  test("NOT_FOUND surfaces as PulseNotFound: fetch returns None") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 2,
      startPulse = start)
    val fp = overWire(new ReplayExporter(wire)) { grpc =>
      Transport.fetchPulse(grpc, start + 5 * Fixtures.PulseDelta, sleep = noSleep)
    }
    assert(fp.isEmpty)
  }

  test("ShouldIterateFrom rides the wire and redirects the follow cursor") {
    val redirect = start + 3 * Fixtures.PulseDelta
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 3,
      startPulse = start)
    val replay = new ReplayExporter(wire, iterateFromOverride = Map(start -> redirect))
    val fp = overWire(replay) { grpc =>
      Transport.fetchPulse(grpc, start, batchSize = 10, sleep = noSleep).get
    }
    assert(fp.rows.length == 3)
    assert(fp.iterateFrom == redirect)
  }

  test("a PAYLOAD-BEARING marker keeps its redirect over the wire") {
    // the reference's end-of-pulse marker IS the next-pulse record — a
    // real payload row WITH ShouldIterateFrom set (platform_impl.go:
    // 314-318, payload never stored). The wire bridge must carry the
    // redirect on that frame too, not only on header-only markers: a
    // dropped redirect would resume the follow loop at the marker's own
    // pulse instead of the exporter's hint.
    val redirect = start + 5 * Fixtures.PulseDelta
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 3,
      startPulse = start)
    val rows = wire.collect().sortBy(r =>
      (r.getAs[Long]("pulse_number"), r.getAs[Long]("record_number")))
    val (pulseRows, nextRows) = rows.partition(_.getAs[Long]("pulse_number") == start)
    val payloadMarker = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        val recs = pulseRows.slice(recordNumber, recordNumber + count)
          .iterator.map(r => Transport.Frame(start, r))
        if (recordNumber + count >= pulseRows.length)
          recs ++ Iterator(Transport.Frame(start + Fixtures.PulseDelta,
            nextRows.head, Some(redirect)))
        else recs
      }
    }
    val fp = overWire(payloadMarker) { grpc =>
      Transport.fetchPulse(grpc, start, batchSize = 10, sleep = noSleep).get
    }
    assert(fp.rows.length == 3, "the marker's payload is never stored")
    assert(fp.iterateFrom == redirect,
      s"redirect must survive the payload-bearing marker, got ${fp.iterateFrom}")

    // same-pulse frame with ShouldIterateFrom set: still a marker — the
    // client must complete the pulse on the hint, not store the row
    val samePulseMarker = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        val recs = pulseRows.slice(recordNumber, recordNumber + count)
          .iterator.map(r => Transport.Frame(start, r))
        if (recordNumber + count >= pulseRows.length - 1)
          recs.take(pulseRows.length - 1 - recordNumber) ++
            Iterator(Transport.Frame(start, pulseRows.last, Some(redirect)))
        else recs
      }
    }
    val fp2 = overWire(samePulseMarker) { grpc =>
      Transport.fetchPulse(grpc, start, batchSize = 10, sleep = noSleep).get
    }
    assert(fp2.rows.length == 2 && fp2.iterateFrom == redirect,
      "a same-pulse frame with the hint set is a marker, never a stored row")
  }

  test("a server streaming past the up-front window still delivers every frame, in order") {
    // the client requests count + 1 messages up front; this server
    // ignores count and streams the whole pulse in one call, so the
    // client must top its window up or block after count + 1 frames
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 40,
      startPulse = start)
    val rows = wire.collect().sortBy(_.getAs[Long]("record_number"))
    val everything = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        rows.iterator.drop(recordNumber).map(r => Transport.Frame(start, r))
    }
    val got = overWire(everything) { grpc =>
      Await.result(Future(grpc.export(start, 0, 5).map(_.row.getAs[Long]("record_number"))
        .toVector), 60.seconds)
    }
    assert(got == (0L until 40L), "every frame, in order, none doubled")
  }

  test("an interrupt during a blocked fetch cancels the server's call and propagates") {
    val cancelled = new CountDownLatch(1)
    val opened = new CountDownLatch(1)
    // a server that opens the call and never sends: the fetch blocks
    val silent = ServerServiceDefinition.builder("exporter.RecordExporter")
      .addMethod(GrpcWire.ExportMethod, ServerCalls.asyncServerStreamingCall(
        new ServerCalls.ServerStreamingMethod[GrpcWire.GetRecords, GrpcWire.RecordFrame] {
          override def invoke(req: GrpcWire.GetRecords,
              obs: StreamObserver[GrpcWire.RecordFrame]): Unit = {
            obs.asInstanceOf[ServerCallStreamObserver[GrpcWire.RecordFrame]]
              .setOnCancelHandler(() => cancelled.countDown())
            opened.countDown()
          }
        })).build()
    overService(silent) { grpc =>
      @volatile var thrown: Exception = null
      @volatile var flagSet = false
      val fetcher = new Thread(() =>
        try { grpc.export(start, 0, 10).hasNext; () }
        catch {
          case e: Exception =>
            thrown = e
            flagSet = Thread.currentThread().isInterrupted
        })
      fetcher.start()
      assert(opened.await(30, TimeUnit.SECONDS), "the call never reached the server")
      fetcher.interrupt()
      fetcher.join(30000)
      assert(!fetcher.isAlive, "the blocked fetch did not return on interrupt")
      assert(thrown.isInstanceOf[InterruptedException], s"got $thrown")
      assert(flagSet, "the interrupt flag must stay set")
      assert(cancelled.await(30, TimeUnit.SECONDS), "the server never saw the cancel")
    }
  }

  test("the channel survives an exporter restart: next fetch reconnects on the same port") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 3,
      startPulse = start)
    val replay = new ReplayExporter(wire)
    val first: Server = NettyServerBuilder.forPort(0)
      .addService(GrpcTransport.recordService(replay)).build().start()
    val port = first.getPort
    val ch: ManagedChannel = GrpcTransport.channel("localhost", port)
    val grpc = new GrpcTransport.GrpcRecordStream(ch)
    try {
      assert(Transport.fetchPulse(grpc, start, sleep = noSleep).get.rows.length == 3)
      // exporter goes away mid-deployment...
      first.shutdownNow(); first.awaitTermination(5, TimeUnit.SECONDS)
      // ...fetches against the dead exporter surface as reopen-able drops
      // (UNAVAILABLE → StreamDropped), which fetchPulse absorbs until its
      // reopen budget runs out — never a crash, never a partial pulse
      intercept[Transport.StreamDropped] {
        Transport.fetchPulse(grpc, start + Fixtures.PulseDelta, maxReopens = 2, sleep = noSleep)
      }
      // exporter restarts on the SAME port: the channel reconnects by
      // itself and the next pulse flows — the extractor's reconnect story
      val second: Server = NettyServerBuilder.forPort(port)
        .addService(GrpcTransport.recordService(replay)).build().start()
      try {
        // the channel is in TRANSIENT_FAILURE with a connect backoff from
        // the refused attempts; skip the wait (a production reconnect
        // loop just sleeps through it) and give the fetch a real backoff
        // budget for the re-dial
        ch.resetConnectBackoff()
        val fp = Transport.fetchPulse(grpc, start + Fixtures.PulseDelta,
          maxReopens = 40, backoffMs = 250, sleep = Thread.sleep).get
        assert(fp.rows.length == 3)
      } finally { second.shutdownNow(); second.awaitTermination(5, TimeUnit.SECONDS) }
    } finally GrpcTransport.close(ch)
  }
}
