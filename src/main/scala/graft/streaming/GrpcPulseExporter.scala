package graft.streaming

import java.util.concurrent.{Executors, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.sparkproject.connect.grpc.{Server, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.stub.{ServerCallStreamObserver, ServerCalls, StreamObserver}

import graft.ingest.GrpcWire
import graft.ingest.GrpcWire.{GetNextPulseRequest, GetNextPulseResponse}

/** The exporter-api binary's gRPC surface (S6/ST5): serve
  * `exporter.PulseExporter/GetNextPulse` — the reference's service name,
  * method, and exact message layout (`etl/exporter/pulse_exporter.proto`,
  * `pulse_exporter_server.go:20-51`) — over the engine's pulse/record
  * tables. Long-poll loop per stream, exactly the reference's:
  *
  *   - fetch the next COMPLETE pulse whose stored prev is the cursor and
  *     whose records match the prototype filter, with the FILTERED record
  *     count (`GetNextCompletePulseFilterByPrototypeReference`,
  *     `etl/storage/storage.go:563-585`) — the
  *     [[PulseFeed.nextCompletePulseFiltered]] body, whose DataFrame twin
  *     is the oracled `be_exporter_next`
  *   - caught up → sleep one pulse period, ask again (the stream never
  *     completes server-side; the client ends it by cancelling)
  *
  * The per-stream query is a broadcast join against a single candidate
  * pulse row — the 100 TB posture is the pulse spine's, not the fact
  * table's. Each live stream holds one thread of the cached pool (the
  * reference holds one goroutine); the driver-side collect is one row.
  */
object GrpcPulseExporter {

  final class Handle private[GrpcPulseExporter] (server: Server,
      pool: java.util.concurrent.ExecutorService) {
    def port: Int = server.getPort
    def stop(): Unit = {
      server.shutdownNow()
      server.awaitTermination(5, TimeUnit.SECONDS)
      pool.shutdownNow()
      ()
    }
  }

  /** The service definition — shared by the netty listener and in-process
    * test servers. The table views are SUPPLIERS, re-invoked per poll
    * step: a long-poll over a LIVE ingest store must observe pulses
    * committed after the server started, and a parquet DataFrame freezes
    * its file listing at creation — a captured frame would replay the
    * boot-time snapshot forever (and a server started inside the
    * startup window would long-poll the schema-stable empty frame for
    * the stream's whole life). Over the immutable corpus the supplier
    * resolves the relation cache, so the per-poll cost is a map lookup.
    */
  def service(pulsesFn: () => DataFrame, recordsFn: () => DataFrame,
      pulsePeriodMs: Long): ServerServiceDefinition =
    ServerServiceDefinition.builder("exporter.PulseExporter")
      .addMethod(GrpcWire.GetNextPulseMethod,
        ServerCalls.asyncServerStreamingCall(
          new ServerCalls.ServerStreamingMethod[GetNextPulseRequest, GetNextPulseResponse] {
            override def invoke(req: GetNextPulseRequest,
                obs: StreamObserver[GetNextPulseResponse]): Unit =
              feed(pulsesFn, recordsFn, pulsePeriodMs, req, obs)
          }))
      .build()

  /** One poll step, decomposed for the serving path: the batch body
    * ([[PulseFeed.nextCompletePulseFiltered]], the oracled
    * `be_exporter_next` twin) scans the records side bounded only by the
    * join — right for a batch query, wrong per-poll at 100 TB. Here the
    * candidate probe touches ONLY the pulse spine (a handful of rows),
    * and each recount runs with a STATIC `pulse_number = pn` predicate
    * the range-clustered records artifact prunes to one pulse's row
    * groups — the columnar analog of the reference's indexed
    * `JOIN records ... WHERE pulses.prev_pulse_number = ?`
    * (`etl/storage/storage.go:563-585`). Candidates are tried
    * smallest-first and the first with matching records is served — the
    * reference's JOIN admits only candidates WITH matching records, so
    * when two complete pulses share a prev (a reloaded fork), a
    * matching-less sibling must not stall the stream while its twin
    * matches (GORM's unordered `Find` picks an arbitrary one; smallest-
    * first is the deterministic refinement). No candidate matching at
    * all IS the stall: the stream waits at the cursor, as the
    * reference's `currentPN >= receivedPulse.PulseNumber` sleep does for
    * the zero-value pulse its empty Find returns.
    */
  private[streaming] def pollStep(pulses: DataFrame, records: DataFrame,
      from: Long, prototypes: Seq[Array[Byte]]): Option[GetNextPulseResponse] = {
    import org.apache.spark.sql.functions.col
    val cands = pulses
      .filter(col("is_complete") && col("prev_pulse_number") === from)
      .select(col("pulse_number")).collect().map(_.getLong(0)).sorted
    if (cands.isEmpty) None
    else {
      val matched = PulseFeed.prototypeFiltered(records, prototypes)
      cands.iterator
        .map(pn => (pn, matched.filter(col("pulse_number") === pn).count()))
        .collectFirst { case (pn, amount) if amount > 0 =>
          GetNextPulseResponse(pn, from, amount)
        }
    }
  }

  private def feed(pulsesFn: () => DataFrame, recordsFn: () => DataFrame,
      pulsePeriodMs: Long, req: GetNextPulseRequest,
      obs: StreamObserver[GetNextPulseResponse]): Unit = {
    val sco = obs.asInstanceOf[ServerCallStreamObserver[GetNextPulseResponse]]
    var current = req.pulseNumberFrom
    try {
      while (!sco.isCancelled) {
        pollStep(pulsesFn(), recordsFn(), current, req.prototypes) match {
          case Some(resp) =>
            sco.onNext(resp)
            current = resp.pulseNumber
          case None =>
            Thread.sleep(pulsePeriodMs)
        }
      }
    } catch {
      case _: InterruptedException => () // pool shutdown
      case NonFatal(e) =>
        // surface a real serve failure to the client (the reference
        // returns the send error up the handler, pulse_exporter_server.go:
        // 42-47); a post-cancel race is just the stream ending
        if (!sco.isCancelled)
          try obs.onError(Status.INTERNAL.withDescription(
            String.valueOf(e.getMessage)).asRuntimeException())
          catch { case NonFatal(_) => () }
    }
  }

  /** Bind the netty listener (`port=0` → ephemeral). Callers own
    * `stop()`. The supplier form is the live-store entry point; the
    * DataFrame overload serves an immutable snapshot (tests, corpus).
    */
  def start(pulsesFn: () => DataFrame, recordsFn: () => DataFrame,
      port: Int, pulsePeriodMs: Long): Handle = {
    val pool = Executors.newCachedThreadPool()
    val server = NettyServerBuilder.forPort(port)
      .executor(pool)
      // match the reference transport's 1 GiB message cap
      // (configuration.go:67 MaxTransportMsg) on the serve side too
      .maxInboundMessageSize(1 << 30)
      .addService(service(pulsesFn, recordsFn, pulsePeriodMs))
      .build()
      .start()
    new Handle(server, pool)
  }

  /** Snapshot overload: serve fixed frames (an immutable corpus or a
    * test fixture — anything whose file listing must not move).
    */
  def start(pulses: DataFrame, records: DataFrame, port: Int = 0,
      pulsePeriodMs: Long = 10000L): Handle =
    start(() => pulses, () => records, port, pulsePeriodMs)
}
