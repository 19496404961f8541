package graft.ingest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

/** The transport boundary of the record exporter (S1/S2).
  *
  * Every TRANSPORT-LEVEL semantic of the reference extractor is a plain
  * control-flow contract over [[RecordStream]], so it is contract-tested
  * the same way with or without the wire: portioned streams with
  * resume-from-record-number, the next-pulse record as the end-of-pulse
  * marker, `ShouldIterateFrom` redirects, and reconnect-without-loss
  * after a mid-portion drop (reference:
  * `etl/extractor/platform_impl.go:255-322`; tests replay it the way
  * heavymock replays the real exporter,
  * `test/heavymock/exporter_impl.go:28-50`).
  *
  * [[GrpcTransport]] implements [[RecordStream]] over the live gRPC
  * wire; the [[graft.Ingest]] daemon drives any implementation through
  * [[fetchPulse]].
  */
object Transport {

  /** One streamed exporter response: a wire record (Schemas.wireRecords
    * row) tagged with its pulse. A frame whose `recPulse` is past the
    * requested pulse — or whose `shouldIterateFrom` is set (mirroring
    * `GetRecordsResponse.ShouldIterateFrom`) — marks the requested pulse
    * COMPLETE and names the pulse to iterate from next; its payload is
    * never stored (the extractor closes the stream on seeing it,
    * `platform_impl.go:310-319`).
    */
  final case class Frame(recPulse: Long, row: Row, shouldIterateFrom: Option[Long] = None)

  /** Stream drop mid-portion (connection loss, server restart). */
  final class StreamDropped(msg: String) extends RuntimeException(msg)

  /** The requested pulse does not exist on the exporter (yet). */
  final class PulseNotFound(val pulse: Long) extends RuntimeException(s"pulse $pulse not found")

  /** Exporter-side rate limiting — pause, then reopen at the cursor. */
  final class RateLimited(msg: String) extends RuntimeException(msg)

  /** The exporter service shape — `GetRecords{PulseNumber, RecordNumber,
    * Count}`: open a stream of up to `count` records of `pulse` starting
    * at `recordNumber` (the client's resume cursor = records it already
    * holds). The iterator may throw [[StreamDropped]] / [[RateLimited]]
    * at any element; `export` throws [[PulseNotFound]] for a pulse the
    * exporter does not have.
    */
  trait RecordStream {
    def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Frame]
  }

  /** A completed fetch: the pulse's wire rows plus the exporter's
    * iterate-from hint (`ShouldIterateFrom` when sent, else the marker
    * record's own pulse — `platform_impl.go:314-318`).
    */
  final case class FetchedPulse(rows: Seq[Row], iterateFrom: Long)

  /** The extractor's portion loop: open a stream at the cursor, drain
    * it; EOF ends the portion — reopen at the advanced cursor; a
    * next-pulse frame (or `ShouldIterateFrom`) completes the pulse. A
    * dropped or rate-limited stream reopens at the cursor, so records
    * already held are never re-fetched and never lost. An empty portion
    * with no marker means the pulse is not final yet — pause and re-ask
    * (the reference sleeps half a pulse on `ErrNotFinalPulseData`).
    * `maxReopens` bounds CONSECUTIVE no-progress reopens — any reopen
    * that advanced the cursor resets the budget, so an intermittently
    * dropping stream that still makes forward progress ingests a pulse
    * of any length (the reference retries forever under its controller's
    * cancellation; here a genuine stall surfaces as a throw, and the
    * daemon's follower holds its cursor and retries after a pause).
    */
  def fetchPulse(
      stream: RecordStream,
      pulse: Long,
      batchSize: Int = 100,
      maxReopens: Int = 8,
      backoffMs: Long = 10,
      sleep: Long => Unit = Thread.sleep): Option[FetchedPulse] = {
    val acc = ArrayBuffer.empty[Row]
    var noProgress = 0
    var lastLen = 0
    def pause(e: => RuntimeException): Unit = {
      if (acc.length > lastLen) { noProgress = 0; lastLen = acc.length }
      noProgress += 1
      if (noProgress > maxReopens) throw e
      sleep(backoffMs)
    }
    while (true) {
      try {
        val it = stream.export(pulse, acc.length, batchSize)
        val before = acc.length
        var marker: Option[Frame] = None
        while (marker.isEmpty && it.hasNext) {
          val f = it.next()
          if (f.shouldIterateFrom.nonEmpty || f.recPulse != pulse) marker = Some(f)
          else acc += f.row
        }
        marker match {
          case Some(f) =>
            // drain the portion's remainder (≤ batchSize frames the
            // server already pushed — records of the NEXT pulse) so the
            // underlying stream COMPLETES instead of sitting half-
            // consumed with buffered frames until the transport gives
            // up (the reference extractor closes its stream on the
            // marker, platform_impl.go:310-319). Bounded and best-
            // effort: a drain failure is irrelevant, the marker is
            // already in hand — but an interrupt still exits promptly.
            try {
              var d = 0
              while (d < batchSize && it.hasNext) { it.next(); d += 1 }
            } catch {
              case e: InterruptedException => throw e
              case scala.util.control.NonFatal(_) => ()
            }
            return Some(FetchedPulse(acc.toSeq, f.shouldIterateFrom.getOrElse(f.recPulse)))
          case None =>
            if (acc.length == before)
              pause(new StreamDropped(s"pulse $pulse: no progress after $maxReopens reopens"))
        }
      } catch {
        case _: PulseNotFound => return None
        case e: StreamDropped => pause(e)
        case e: RateLimited => pause(e)
      }
    }
    sys.error("unreachable")
  }
}
