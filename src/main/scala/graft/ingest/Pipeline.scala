package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Completeness

/** The ETL driver loop (reference: `cmd/block-explorer/main.go:79-158` +
  * the controller loops in `etl/controller/pulsemaintainer.go`): pull one
  * pulse at a time from a source, run the [[Spine]], commit the pulse
  * partition idempotently, and maintain the derived status table. Gap
  * detection re-requests missing pulses from the source (ST3) — late or
  * duplicate delivery is safe because the partition commit is
  * deterministic (ST4).
  *
  * The source is a function `pulse → Option[wire frame]` so batch replay,
  * the heavy-node stream adapter, and test fixtures share one path.
  */
final class Pipeline(
    spark: SparkSession,
    basePath: String,
    source: Long => Option[DataFrame],
    pulseDelta: Long = 10L,
    reloadTtlMillis: Long = 1200000L) {

  final case class Report(ingested: Seq[Long], missing: Seq[Long], reloaded: Seq[Long])

  /** ST3 reload dedup — repeated `run` rounds skip pulses whose reload is
    * still pending within the TTL (reference default 20 min,
    * `configuration/configuration.go:116-122`).
    */
  private val missedData = new Resilience.MissedDataManager(reloadTtlMillis)

  /** Ingest one pulse: spine + idempotent partition commit (the shared
    * [[PulseWriter.commitPulse]] — one implementation for this batch loop
    * and the [[graft.Ingest]] daemon). Returns true when the source had
    * data for the pulse.
    */
  def ingestPulse(pulse: Long): Boolean =
    source(pulse) match {
      case Some(wire) => PulseWriter.commitPulse(wire, basePath); true
      case None => false
    }

  /** [[ingestPulse]] with failures contained: a pulse whose fetch/commit
    * throws (even after source-side retries) is treated as missing this
    * round — the gap loop re-requests it later (reference: the extractor
    * retries forever, the controller owns re-request). Interrupts are
    * NOT contained: a stopping thread must exit the sweep, not grind on
    * treating its own interrupt as "pulse missing" (the same rethrow
    * contract the transport layer keeps).
    */
  private def tryIngest(p: Long): Boolean =
    try ingestPulse(p) catch {
      case e: InterruptedException => throw e
      // NonFatal only: an OOM/linkage error means the JVM is in an
      // undefined state — "pulse missing, retry later" would grind a
      // broken heap (same fatal-propagate policy as the HTTP handler)
      case scala.util.control.NonFatal(_) => false
    }

  /** Distinct pulse numbers PRESENT in `table` — manifest-aware
    * ([[TableManifest.readTable]]): a directory that does not exist or
    * holds no committed data (a store whose only commits were zero-row
    * pulses leaves `records/` with just `_SUCCESS`) reads as empty
    * instead of failing schema inference and aborting the round, and a
    * manifested store resolves its committed file set rather than a raw
    * listing (which would also see superseded generations).
    */
  private def presentPulses(table: String): DataFrame =
    TableManifest.readTable(spark, s"$basePath/$table")
      .map(_.select(col("pulse_number").cast("long").as("pulse_number")).distinct())
      .getOrElse(spark.range(0).selectExpr("id AS pulse_number"))

  /** Drive `[from, to]`, then run one gap-detection + reload round. */
  def run(from: Long, to: Long): Report = {
    val ingested = (from to to by pulseDelta).filter(tryIngest)
    // a pulse is PRESENT only when BOTH tables hold it: commitPulse
    // writes records before jet_drops, so a failure between the two
    // leaves records without drops — keying the gap scan off records
    // alone would classify that pulse healthy and the jet_drops hole
    // would never be re-requested by anything, permanently
    val present = presentPulses("records")
      .join(presentPulses("jet_drops"), "pulse_number")
    val missing = Completeness
      .missingInRange(present, "pulse_number", from, to, pulseDelta)
      .collect().map(_.getLong(0)).toSeq
    // ST3 re-request, deduped by TTL containment so a persistent gap does
    // not re-request on every round within the TTL window. A reload is
    // REGISTERED only once its attempt completes without throwing (data
    // arrived, or the source confirmed no data) — a transiently-failed
    // attempt leaves no registration, so the next round retries
    // immediately instead of being blind for the whole TTL.
    val reloaded = missing.filter { p =>
      if (missedData.covered(p, p)) false
      else
        try {
          val ok = ingestPulse(p)
          missedData.addIfNew(p, p)
          ok
        } catch {
          case e: InterruptedException => throw e
          case scala.util.control.NonFatal(_) => false
        }
    }
    Report(ingested, missing, reloaded)
  }

  /** Drive the exporter's own pulse chain over `[from, to]`: ingest each
    * fetched pulse, then advance by the exporter's iterate-from hint
    * (`ShouldIterateFrom`, or the end-of-pulse marker's own pulse —
    * [[Transport.FetchedPulse]]) instead of fixed arithmetic stepping.
    * Pulses the exporter redirects past are neither probed nor marked
    * missing, so the ST3 reload loop never re-requests data the exporter
    * already said does not exist (the reference extractor trusts the same
    * hint, `etl/extractor/platform_impl.go:314-318`). A hint that fails
    * to advance falls back to a `pulseDelta` step; not-found / failed
    * pulses step by `pulseDelta` and are retried once through the
    * TTL-deduped reload path, like [[run]].
    */
  def follow(rich: Long => Option[(DataFrame, Long)], from: Long, to: Long): Report = {
    val ingested = scala.collection.mutable.ArrayBuffer.empty[Long]
    val missing = scala.collection.mutable.ArrayBuffer.empty[Long]
    var p = from
    while (p <= to) {
      (try rich(p) catch {
        case e: InterruptedException => throw e
        case scala.util.control.NonFatal(_) => None
      }) match {
        case Some((wire, hint)) =>
          val ok = try { PulseWriter.commitPulse(wire, basePath); true } catch {
            case e: InterruptedException => throw e
            case scala.util.control.NonFatal(_) => false
          }
          if (ok) ingested += p else missing += p
          p = if (hint > p) hint else p + pulseDelta
        case None =>
          missing += p
          p += pulseDelta
      }
    }
    val reloaded = missing.toSeq.filter { q =>
      if (missedData.covered(q, q)) false
      else
        try {
          val ok = rich(q).exists { case (wire, _) => PulseWriter.commitPulse(wire, basePath); true }
          missedData.addIfNew(q, q)
          ok
        } catch {
          case e: InterruptedException => throw e
          case scala.util.control.NonFatal(_) => false
        }
    }
    Report(ingested.toSeq, missing.toSeq, reloaded)
  }

  /** The derived pulse-status view (A1 counters + ST2 + sequence). A
    * data-less records directory (zero-row commits only, or nothing
    * ingested yet) yields an empty status frame instead of a schema-
    * inference crash.
    */
  def status(): DataFrame = {
    val records = TableManifest.readTable(spark, s"$basePath/records")
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        graft.model.Schemas.records))
    graft.model.Domain.pulses(records.withColumn("ts_sec", col("timestamp")))
  }
}
