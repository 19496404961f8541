package graft.ingest

import graft.SparkSpec
import graft.gen.Fixtures
import org.apache.spark.sql.{DataFrame, Row}

/** Heavymock-style replay exporter
  * (`test/heavymock/exporter_impl.go:28-50`): serves a wire DataFrame
  * pulse by pulse in `record_number` order, appends the next-pulse
  * marker record after the pulse's last row, and can inject one
  * mid-portion stream drop per pulse (first attempt only) — the
  * reconnect case the real transport must survive.
  */
final class ReplayExporter(
    wire: DataFrame,
    pulseDelta: Long = Fixtures.PulseDelta,
    dropOnceAt: Map[Long, Int] = Map.empty,
    iterateFromOverride: Map[Long, Long] = Map.empty
) extends Transport.RecordStream {

  private val byPulse: Map[Long, Array[Row]] =
    wire.collect().groupBy(_.getAs[Long]("pulse_number"))
      .map { case (p, rs) => p -> rs.sortBy(_.getAs[Long]("record_number")) }
  private var droppedOnce = Set.empty[Long]
  @volatile var exportCalls = 0
  @volatile var probedPulses = Vector.empty[Long]

  override def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
    // the daemon's follower/maintainer threads call concurrently: the
    // probe instrumentation must not lose appends (a lost entry could be
    // exactly the forbidden re-fetch a spec pins on probedPulses)
    synchronized { exportCalls += 1; probedPulses :+= pulse }
    val rows = byPulse.getOrElse(pulse, throw new Transport.PulseNotFound(pulse))
    val slice = rows.slice(recordNumber, recordNumber + count)
    val recs = slice.zipWithIndex.iterator
      .map { case (r, i) => (recordNumber + i, Transport.Frame(pulse, r)) }
    // the marker's payload is never consumed — end-of-pulse is decided
    // on the frame header, like the extractor which closes the stream
    // without storing the marker record
    val frames =
      if (recordNumber + slice.length >= rows.length)
        recs ++ Iterator((rows.length,
          Transport.Frame(pulse + pulseDelta, null, iterateFromOverride.get(pulse))))
      else recs
    frames.map { case (idx, f) =>
      if (dropOnceAt.get(pulse).contains(idx) && !droppedOnce.contains(pulse)) {
        droppedOnce += pulse
        throw new Transport.StreamDropped(s"injected drop at record $idx of pulse $pulse")
      }
      f
    }
  }
}

class TransportSpec extends SparkSpec {

  private val start = Fixtures.GenesisPulse + Fixtures.PulseDelta
  private def noSleep: Long => Unit = _ => ()

  test("portioned fetch crosses EOF boundaries and stops at the next-pulse marker") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 7,
      startPulse = start)
    val exporter = new ReplayExporter(wire)
    // batch 3 over 7 records = 3 portions (2 EOF reopens) + marker
    val fp = Transport.fetchPulse(exporter, start, batchSize = 3, sleep = noSleep).get
    assert(fp.rows.length == 7)
    assert(fp.rows.map(_.getAs[Long]("record_number")) == (0L until 7L))
    assert(fp.iterateFrom == start + Fixtures.PulseDelta,
      "without ShouldIterateFrom the marker record's own pulse is the hint")
  }

  test("rate limiting pauses, backs off, and resumes at the cursor") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 5,
      startPulse = start)
    val inner = new ReplayExporter(wire)
    // every other open is rejected with the exporter's rate limit; the
    // fetch must sleep (backoff observed) and reopen at the SAME cursor
    var opens = 0
    var slept = 0L
    val limited = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        opens += 1
        if (opens % 2 == 1) throw new Transport.RateLimited("429")
        inner.export(pulse, recordNumber, count)
      }
    }
    val fp = Transport.fetchPulse(limited, start, batchSize = 2,
      sleep = ms => slept += ms).get
    assert(fp.rows.map(_.getAs[Long]("record_number")) == (0L until 5L),
      "rate-limited reopens must lose and duplicate nothing")
    assert(slept > 0, "a rate-limited open must back off before retrying")
  }

  test("mid-portion disconnect resumes at the cursor: no loss, no duplicates") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 7,
      startPulse = start)
    val exporter = new ReplayExporter(wire, dropOnceAt = Map(start -> 4))
    val fp = Transport.fetchPulse(exporter, start, batchSize = 3, sleep = noSleep).get
    val nums = fp.rows.map(_.getAs[Long]("record_number"))
    assert(nums == (0L until 7L), s"resume must neither drop nor repeat records: $nums")
  }

  test("ShouldIterateFrom on the marker wins over the marker's pulse") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 2,
      startPulse = start)
    val exporter = new ReplayExporter(wire,
      iterateFromOverride = Map(start -> (start + 5 * Fixtures.PulseDelta)))
    val fp = Transport.fetchPulse(exporter, start, batchSize = 10, sleep = noSleep).get
    assert(fp.iterateFrom == start + 5 * Fixtures.PulseDelta)
  }

  test("reopen budget resets on progress: an intermittently dropping stream completes") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 9,
      startPulse = start)
    val inner = new ReplayExporter(wire)
    // every portion yields two frames then drops the connection (unless
    // the pulse already finished) — more total drops than maxReopens, but
    // each one advances the cursor
    val flaky = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] = {
        val base = inner.export(pulse, recordNumber, count)
        val taken = base.take(2).toList
        if (taken.length == 2 && base.hasNext)
          taken.iterator ++
            Iterator.continually[Transport.Frame](
              throw new Transport.StreamDropped("flaky")).take(1)
        else taken.iterator
      }
    }
    val fp = Transport.fetchPulse(flaky, start, batchSize = 100, maxReopens = 2,
      sleep = noSleep).get
    assert(fp.rows.map(_.getAs[Long]("record_number")) == (0L until 9L),
      "4 drops with forward progress must not exhaust a 2-reopen budget")
  }

  test("unknown pulse maps to None; a persistent drop throws after maxReopens") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 2,
      startPulse = start)
    assert(Transport.fetchPulse(new ReplayExporter(wire), start + 999,
      sleep = noSleep).isEmpty)
    val alwaysDown = new Transport.RecordStream {
      def export(pulse: Long, recordNumber: Int, count: Int): Iterator[Transport.Frame] =
        throw new Transport.StreamDropped("down")
    }
    intercept[Transport.StreamDropped] {
      Transport.fetchPulse(alwaysDown, start, maxReopens = 2, sleep = noSleep)
    }
  }
}
