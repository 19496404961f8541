package graft.ingest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

/** S3/S4/ST4/W7 — idempotent per-pulse commit.
  *
  * The reference upserts rows transactionally into Postgres
  * (`etl/storage/storage.go:28-94`); at-least-once delivery plus
  * ON CONFLICT gives effective exactly-once. On an immutable columnar store
  * the same guarantee comes from a MANIFESTED REPLACE per pulse: a pulse is
  * the commit unit, `pulse_number=N` is a directory, and each commit
  * adds one new file there and publishes a [[TableManifest]] version that
  * replaces the partition's file list — idempotent, because a retried or
  * re-delivered pulse produces the same rows, `order` included (W7 numbers
  * along a deterministic sort). The previous generation stays on disk
  * for the manifest's retention window, so concurrent readers finish
  * against the snapshot they planned.
  *
  * At 100 TB this is also the right physical layout: pulse-range predicates
  * prune partitions; within a partition rows are sorted by
  * (jet_id, order) so min/max row-group stats make jet and keyset
  * predicates skip row groups.
  */
object PulseWriter {

  /** What a pulse commit published: the pulse's drop rows (one per
    * (pulse, jet)), and the manifest version each table got — none for a
    * pulse with no records, which writes nothing.
    */
  final case class Committed(drops: Seq[Row], manifests: Map[String, TableManifest.Snapshot])

  /** The two-table pulse commit behind every [[graft.Ingest]] daemon
    * write (follower, maintainer reload and sequencer gap reload): the
    * spine → records → jet_drops contract in one place. The [[Spine]]
    * runs in the driver, and each drop's `record_amount` and minimum
    * `timestamp` come from its rows there; both tables are then written
    * from those driver-held rows by [[TableManifest.writeRows]], so a
    * driver-built wire frame costs no Spark job at all. Records keep the
    * spine's (pulse, jet, order) order, drops are sorted by (pulse, jet).
    * The drop rows let daemon-side registers come for free from the
    * commit itself, like the reference's processor populating the
    * controller's `jetDropRegister`.
    */
  def commitPulse(wire: DataFrame, basePath: String): Committed = {
    val spark = wire.sparkSession
    val (schema, records) = Spine.rows(wire)
    val Seq(pulse, jet, ts) = Seq("pulse_number", "jet_id", "timestamp").map(schema.fieldIndex)
    // the stored drop shape, its key columns typed as the spine types them
    val dropSchema = StructType(
      Seq(schema(pulse), schema(jet)) ++ graft.model.Schemas.jetDrops.fields.drop(2))
    val drops = records.groupBy(r => (r.getLong(pulse), r.getString(jet))).toSeq.sortBy(_._1)
      .map { case ((p, j), rs) =>
        new GenericRowWithSchema(Array(p, j, rs.size, rs.map(_.getLong(ts)).min), dropSchema): Row
      }
    val manifests = Seq("records" -> (schema, records), "jet_drops" -> (dropSchema, drops))
      .flatMap { case (table, (s, rows)) =>
        TableManifest.writeRows(spark, s"$basePath/$table", "pulse_number", s, rows).map(table -> _)
      }.toMap
    Committed(drops, manifests)
  }
}
