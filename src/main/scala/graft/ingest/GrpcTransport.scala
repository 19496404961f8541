package graft.ingest

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.sparkproject.connect.grpc.{CallOptions, Channel, ClientCall, ManagedChannel, Metadata, ServerServiceDefinition, Status, StatusRuntimeException}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.{ServerCalls, StreamObserver}

import graft.model.Schemas

/** S1/S2 over the real wire: a gRPC client for
  * `exporter.RecordExporter/Export` implementing
  * [[Transport.RecordStream]], so [[Transport.fetchPulse]] and the
  * [[graft.Ingest]] daemon drive a live exporter exactly as they drive
  * the replay harness — the extractor's `client.Export(GetRecords{
  * PulseNumber, RecordNumber, Count})` portion loop (`etl/extractor/
  * platform_impl.go:255-322`) with the same status mapping:
  *
  *  - `NOT_FOUND` → [[Transport.PulseNotFound]] (the pulse is not on the
  *    exporter; the reference sleeps and re-asks its chain head,
  *    `platform_impl.go:171-177` — the daemon's follower pauses at the
  *    head, and its maintainer and sequencer re-request gaps, ST3)
  *  - `RESOURCE_EXHAUSTED` → [[Transport.RateLimited]] (the reference's
  *    `isRateLimitError`, half-pulse pause then reopen at the cursor)
  *  - any other stream failure → [[Transport.StreamDropped]] (reopen at
  *    the cursor; records already held are never re-fetched)
  *
  * The channel is plaintext HTTP/2 like the reference's exporter
  * connection default (`etl/connection/grpc.go` insecure dial option).
  *
  * The client does not use grpc's blocking stub: its iterator requests
  * one message per `next()`, so every frame of a portion waits for a
  * caller → event loop → caller round trip. [[GrpcRecordStream]] opens
  * the `ClientCall` itself with a listener that runs on the transport
  * thread and only enqueues, and keeps a window of messages requested:
  * `count + 1` up front (a portion is at most `count` records plus the
  * end-of-pulse marker), topped back up to a full window whenever half
  * of it has been consumed. A server that sends more than a portion
  * still drains, and the queue never holds more than one window.
  */
object GrpcTransport {

  /** Open a plaintext channel to an exporter. Callers own `shutdown()`.
    * The inbound cap matches the reference client's `MaxTransportMsg`
    * default of 1 GiB (`etl/connection/grpc_client.go:28`,
    * `configuration/configuration.go:67`) — a heavy record payload must
    * not die on gRPC's 4 MiB default.
    */
  def channel(host: String, port: Int,
      maxInboundMessageBytes: Int = 1 << 30): ManagedChannel =
    NettyChannelBuilder.forAddress(host, port)
      .maxInboundMessageSize(maxInboundMessageBytes)
      .usePlaintext().build()

  def close(ch: ManagedChannel): Unit = {
    ch.shutdownNow()
    ch.awaitTermination(5, TimeUnit.SECONDS)
    ()
  }

  /** Wire record frame → Spark wire row ([[Schemas.wireRecords]]). */
  private[ingest] def rowOf(f: GrpcWire.RecordFrame): Row =
    new GenericRowWithSchema(Array[Any](
      f.recordNumber, f.id, f.objectId, f.jetId, f.virtualType,
      f.image, f.memory, f.prevStateId, f.rawData, f.pulseNumber),
      Schemas.wireRecords)

  /** Spark wire row → frame (the serve/test side of the same mapping). */
  private[ingest] def frameOf(r: Row, recordNumber: Long): GrpcWire.RecordFrame =
    GrpcWire.RecordFrame(
      recordNumber,
      r.getAs[Array[Byte]]("id"),
      r.getAs[Array[Byte]]("object_id"),
      r.getAs[String]("jet_id"),
      r.getAs[String]("virtual_type"),
      r.getAs[Array[Byte]]("image"),
      r.getAs[Array[Byte]]("memory"),
      r.getAs[Array[Byte]]("prev_state_id"),
      r.getAs[Array[Byte]]("raw_data"),
      r.getAs[Long]("pulse_number"))

  /** The [[Transport.RecordStream]] facade over a live channel. */
  final class GrpcRecordStream(channel: Channel) extends Transport.RecordStream {

    override def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
      new WindowedCall(channel, pulse, recordNumber, count)
  }

  /** How an Export call ended, as the listener saw it. */
  private final case class Closed(status: Status, trailers: Metadata)

  /** One Export call read as an iterator: the listener, run on the
    * transport thread, enqueues each frame and then the close; `next()`
    * takes them in order and keeps the messages requested at most one
    * window ahead of what it has taken. A failed close — at open or
    * mid-stream — goes through [[translate]]; an interrupt while blocked
    * cancels the call and propagates with the flag set.
    */
  private final class WindowedCall(channel: Channel, pulse: Long, recordNumber: Int, count: Int)
      extends Iterator[Transport.Frame] {
    // a portion is at most `count` records plus the end-of-pulse marker
    private val window = (count.toLong + 1).max(1L).min(Int.MaxValue.toLong).toInt
    private val call = channel.newCall(GrpcWire.ExportMethod,
      CallOptions.DEFAULT.withExecutor((r: Runnable) => r.run()))
    private val queue = new LinkedBlockingQueue[AnyRef]()
    private var head: AnyRef = _
    private var credit = window

    try {
      call.start(new ClientCall.Listener[GrpcWire.RecordFrame] {
        override def onMessage(m: GrpcWire.RecordFrame): Unit = { queue.add(m); () }
        override def onClose(s: Status, t: Metadata): Unit = { queue.add(Closed(s, t)); () }
      }, new Metadata())
      call.sendMessage(GrpcWire.GetRecords(pulse, recordNumber, count))
      call.halfClose()
      call.request(window)
    } catch translate(pulse)

    override def hasNext: Boolean = {
      if (head == null) head =
        try queue.take()
        catch {
          case ie: InterruptedException =>
            call.cancel("fetch interrupted", ie)
            Thread.currentThread().interrupt()
            throw ie
        }
      head match {
        case Closed(s, _) if s.isOk => false
        case Closed(s, t) => translate(pulse)(s.asRuntimeException(t))
        case _ => true
      }
    }

    override def next(): Transport.Frame = {
      if (!hasNext) throw new NoSuchElementException(s"pulse $pulse: portion ended")
      val f = head.asInstanceOf[GrpcWire.RecordFrame]
      head = null
      credit -= 1
      if (credit <= window / 2) { call.request(window - credit); credit = window }
      Transport.Frame(f.pulseNumber, rowOf(f),
        if (f.shouldIterateFrom != 0L) Some(f.shouldIterateFrom) else None)
    }
  }

  /** Serve any [[Transport.RecordStream]] over the Export method — the
    * wire-side bridge the bench and the contract specs bind to a netty
    * listener, translating the transport exceptions into the statuses a
    * real exporter node returns (the heavymock shape,
    * `test/heavymock/exporter_impl.go:28-50`, with fault statuses). A
    * downstream deployment could also chain two engines with it.
    */
  def recordService(stream: Transport.RecordStream): ServerServiceDefinition =
    ServerServiceDefinition.builder("exporter.RecordExporter")
      .addMethod(GrpcWire.ExportMethod,
        ServerCalls.asyncServerStreamingCall(
          new ServerCalls.ServerStreamingMethod[GrpcWire.GetRecords, GrpcWire.RecordFrame] {
            override def invoke(req: GrpcWire.GetRecords,
                obs: StreamObserver[GrpcWire.RecordFrame]): Unit =
              try {
                val it = stream.export(req.pulseNumber, req.recordNumber, req.count)
                while (it.hasNext) {
                  val f = it.next()
                  val frame =
                    if (f.row == null) // header-only end-of-pulse marker
                      GrpcWire.RecordFrame(0L, Array.empty, null, "", "", null,
                        null, null, null, f.recPulse, f.shouldIterateFrom.getOrElse(0L))
                    else // a reference-faithful marker IS the next-pulse
                      // record — payload present AND ShouldIterateFrom set
                      // (platform_impl.go:314-318); dropping the redirect
                      // here would resume the client at the wrong pulse
                      frameOf(f.row, f.row.getAs[Long]("record_number"))
                        .copy(shouldIterateFrom = f.shouldIterateFrom.getOrElse(0L))
                  obs.onNext(frame)
                }
                obs.onCompleted()
              } catch {
                case e: Transport.PulseNotFound =>
                  obs.onError(Status.NOT_FOUND.withDescription(e.getMessage).asRuntimeException())
                case e: Transport.RateLimited =>
                  obs.onError(Status.RESOURCE_EXHAUSTED.withDescription(e.getMessage).asRuntimeException())
                case e: Transport.StreamDropped =>
                  obs.onError(Status.UNAVAILABLE.withDescription(e.getMessage).asRuntimeException())
              }
          }))
      .build()

  /** Maps a failure of an Export call (at open or mid-stream) onto the
    * transport exceptions; VM-fatal errors are not caught.
    */
  private def translate(pulse: Long): PartialFunction[Throwable, Nothing] = {
    case s: StatusRuntimeException => s.getStatus.getCode match {
      case Status.Code.NOT_FOUND => throw new Transport.PulseNotFound(pulse)
      case Status.Code.RESOURCE_EXHAUSTED => throw new Transport.RateLimited(s.getStatus.toString)
      case _ => throw new Transport.StreamDropped(s.getStatus.toString)
    }
    // an interrupt (pool shutdown) must NOT become a retryable drop —
    // fetchPulse would sleep and reopen with the interrupt flag cleared
    // instead of exiting promptly
    case ie: InterruptedException => Thread.currentThread().interrupt(); throw ie
    case NonFatal(other) => throw new Transport.StreamDropped(String.valueOf(other.getMessage))
  }
}
