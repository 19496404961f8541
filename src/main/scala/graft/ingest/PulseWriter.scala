package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * A commit is two halves: [[prepare]] transforms the wire rows in the
  * driver with no Spark at all, and [[write]] writes and publishes both
  * tables. The [[graft.Ingest]] follower prepares the next pulse while
  * its writer thread writes the previous one.
  *
  * At 100 TB this is also the right physical layout: pulse-range predicates
  * prune partitions; within a partition rows are sorted by
  * (jet_id, order) so min/max row-group stats make jet and keyset
  * predicates skip row groups.
  */
object PulseWriter {

  /** A pulse made ready to write, in the driver and without Spark: its
    * [[Spine]] rows and its drop rows, one per (pulse, jet) in the stored
    * drop shape, carrying the drop's `record_amount` and minimum
    * `timestamp`. Records keep the spine's (pulse, jet, order) order,
    * drops are sorted by (pulse, jet).
    */
  final case class Prepared(records: Seq[Row], drops: Seq[Row])

  /** What a pulse commit published: the pulse's drop rows, and the
    * manifest version each table got — none for a pulse with no records,
    * which writes nothing.
    */
  final case class Committed(drops: Seq[Row], manifests: Map[String, TableManifest.Snapshot])

  /** The stored drop shape, its key columns typed as the spine types them. */
  private val dropSchema: StructType = StructType(
    Seq(Spine.schema("pulse_number"), Spine.schema("jet_id")) ++
      graft.model.Schemas.jetDrops.fields.drop(2))

  /** The transform half of a pulse commit: the pulse's wire rows
    * ([[graft.model.Schemas.wireRecords]] column order) through the
    * [[Spine]], and the drop rows grouped from the result. The drop rows
    * let daemon-side registers come for free from the commit itself, like
    * the reference's processor populating the controller's
    * `jetDropRegister`.
    */
  def prepare(wire: Seq[Row]): Prepared = {
    val records = Spine.records(wire)
    val Seq(pulse, jet, ts) = Seq("pulse_number", "jet_id", "timestamp").map(Spine.schema.fieldIndex)
    val drops = records.groupBy(r => (r.getLong(pulse), r.getString(jet))).toSeq.sortBy(_._1)
      .map { case ((p, j), rs) =>
        new GenericRowWithSchema(Array(p, j, rs.size, rs.map(_.getLong(ts)).min), dropSchema): Row
      }
    Prepared(records, drops)
  }

  /** The write half behind every [[graft.Ingest]] daemon write (follower,
    * maintainer reload and sequencer gap reload): records, then
    * jet_drops, each written from the driver-held rows by
    * [[TableManifest.writeRows]], so a commit costs no Spark job.
    */
  def write(spark: SparkSession, prepared: Prepared, basePath: String): Committed = {
    val manifests = Seq("records" -> (Spine.schema, prepared.records),
        "jet_drops" -> (dropSchema, prepared.drops))
      .flatMap { case (table, (s, rows)) =>
        TableManifest.writeRows(spark, s"$basePath/$table", "pulse_number", s, rows).map(table -> _)
      }.toMap
    Committed(prepared.drops, manifests)
  }

  /** [[prepare]] then [[write]] over a wire frame's collected rows. */
  def commitPulse(wire: DataFrame, basePath: String): Committed =
    write(wire.sparkSession, prepare(wire.collect().toSeq), basePath)
}
