package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** S3/S4/ST4/W7 — idempotent per-pulse commit.
  *
  * The reference upserts rows transactionally into Postgres
  * (`etl/storage/storage.go:28-94`); at-least-once delivery plus
  * ON CONFLICT gives effective exactly-once. On an immutable columnar store
  * the same guarantee comes from a MANIFESTED APPEND per pulse: a pulse is
  * the commit unit, `pulse_number=N` is a directory, and each commit
  * appends new files there and publishes a [[TableManifest]] version that
  * replaces the partition's file list — idempotent, because a retried or
  * re-delivered pulse produces the same rows, `order` included (W7 numbers
  * along a deterministic sort).
  *
  * At 100 TB this is also the right physical layout: pulse-range predicates
  * prune partitions; within a partition files are sorted by
  * (jet_id, order) so min/max row-group stats make jet and keyset
  * predicates skip row groups.
  */
object PulseWriter {

  /** Write one pulse's records/jet_drops as a MANIFESTED replacement of
    * exactly the `pulse_number=N` partitions present in `df`, sorted for
    * row-group locality.
    *
    * The physical write APPENDS uniquely-named files and then publishes
    * a [[TableManifest]] version mapping each touched partition to its
    * new files — logically identical to the dynamic partition overwrite
    * this replaces (same rows per partition, same idempotent retry: a
    * re-delivered pulse re-replaces its partition with byte-identical
    * content), but the PREVIOUS generation's files survive one more
    * commit cycle, which is what lets concurrent readers finish against
    * the snapshot they planned without ever seeing a lost file or a
    * torn page (the retryable-500 class this deletes — see the manifest
    * doc). An empty frame still creates the table directory (the
    * zero-row-commit layout the serving empties rely on) but publishes
    * nothing.
    */
  def writePulsePartition(df: DataFrame, table: String, basePath: String,
      pulses: Option[Seq[Long]] = None): Unit = {
    val spark = df.sparkSession
    val tablePath = s"$basePath/$table"
    // the affected partitions: the caller's pulse list when it knows it
    // (the daemon commits exactly one pulse and holds its number
    // driver-side — an extra distinct() job per commit would re-run the
    // spine), derived from the DATA otherwise. Same contract as the
    // dynamic overwrite this replaces: a partition with NO rows in the
    // frame is never touched (the zero-row-reload case leaves old rows).
    val parts = pulses.getOrElse(
        df.select(col("pulse_number")).distinct().collect()
          .map(r => r.get(0).toString.toLong).toSeq)
      .map(p => s"pulse_number=$p")
    TableManifest.appendCommit(spark, tablePath, parts) {
      df.sortWithinPartitions(col("jet_id"))
        .write
        // append, never overwrite: visibility is the MANIFEST's job, and
        // an overwrite would delete the generation in-flight readers hold
        .mode(SaveMode.Append)
        .partitionBy("pulse_number")
        .parquet(tablePath)
    }
  }

  /** The two-table pulse commit behind every [[graft.Ingest]] daemon
    * write (follower, maintainer reload and sequencer gap reload): the
    * spine → records → jet_drops contract in one place. The [[Spine]]
    * runs in the driver, and each drop's `record_amount` and minimum
    * `timestamp` come from its rows there, so a driver-built wire frame
    * costs two Spark jobs: one single-file write per table. Returns the
    * pulse's drop rows (one per (pulse, jet)) so daemon-side registers
    * come for free from the commit itself, like the reference's
    * processor populating the controller's `jetDropRegister`.
    */
  def commitPulse(wire: DataFrame, basePath: String): Seq[Row] = {
    val spark = wire.sparkSession
    val (schema, records) = Spine.rows(wire)
    val Seq(pulse, jet, ts) = Seq("pulse_number", "jet_id", "timestamp").map(schema.fieldIndex)
    val dropSchema = StructType(Seq(schema(pulse), schema(jet),
      StructField("record_amount", IntegerType, nullable = false),
      StructField("timestamp", LongType)))
    val drops = records.groupBy(r => (r.getLong(pulse), r.getString(jet)))
      .map { case ((p, j), rs) =>
        new GenericRowWithSchema(Array(p, j, rs.size, rs.map(_.getLong(ts)).min), dropSchema): Row
      }.toSeq
    // the pulses the rows hold, so the writer runs no discovery job
    val parts = Some(records.map(_.getLong(pulse)).distinct)
    def local(rows: Seq[Row], s: StructType) =
      spark.createDataFrame(rows.asJava, s).coalesce(1)
    writePulsePartition(local(records, schema), "records", basePath, parts)
    writePulsePartition(local(drops, dropSchema), "jet_drops", basePath, parts)
    drops
  }
}
