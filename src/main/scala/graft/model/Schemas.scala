package graft.model

import org.apache.spark.sql.types._

/** Canonical storage schemas for the explorer engine.
  *
  * Mirrors the reference data model (reference: `etl/models/models.go:31-75`,
  * DDL `migrations/migrations.go:17-50`) re-expressed as Spark `StructType`s
  * over pulse-partitioned columnar storage. At 100 TB scale each table is a
  * parquet/Delta-style directory partitioned by `pulse_number` (the unit of
  * arrival, completion and reload), so partition pruning turns every
  * pulse-range predicate into a directory listing instead of a scan.
  */
object Schemas {

  /** `pulses` — ~10s ledger time slots; a doubly-linked time series, as
    * the ingest daemon writes it (reference: `etl/models/models.go:66-75`,
    * plus the per-type `result_amount` counter). Small dimension (1 row /
    * 10s ≈ 3M rows/year) — always broadcast-joinable. `pulse_bucket` =
    * `pulse_number / span` is the partition column the daemon's flush
    * replaces whole.
    */
  val pulses: StructType = StructType(Seq(
    StructField("pulse_number", LongType, nullable = false),
    StructField("prev_pulse_number", LongType, nullable = false),
    StructField("next_pulse_number", LongType, nullable = false),
    StructField("is_complete", BooleanType, nullable = false),
    StructField("is_sequential", BooleanType, nullable = false),
    StructField("jet_drop_amount", IntegerType, nullable = false),
    StructField("record_amount", LongType, nullable = false),
    StructField("result_amount", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("pulse_bucket", LongType, nullable = false)
  ))

  /** `records` — the fact table. PK `reference`; `(pulse_number, order)` is
    * the global sort key. reference: `etl/models/models.go:31-44`.
    */
  val records: StructType = StructType(Seq(
    StructField("reference", BinaryType, nullable = false),
    StructField("type", StringType, nullable = false), // state|request|result
    StructField("object_reference", BinaryType),
    StructField("prototype_reference", BinaryType),
    StructField("payload", BinaryType),
    StructField("prev_record_reference", BinaryType),
    StructField("hash", BinaryType),
    StructField("raw_data", BinaryType),
    StructField("jet_id", StringType, nullable = false),
    StructField("pulse_number", LongType, nullable = false),
    StructField("order", IntegerType, nullable = false),
    StructField("timestamp", LongType, nullable = false)
  ))

  /** `jet_drops` — one row per (pulse, jet) as a pulse commit writes it:
    * the drop's record count and its earliest record timestamp (the two
    * key columns take their nullability from the committed records).
    * reference: `etl/models/models.go:46-55` (hashes are derived at
    * serving time).
    */
  val jetDrops: StructType = StructType(Seq(
    StructField("pulse_number", LongType, nullable = false),
    StructField("jet_id", StringType, nullable = false),
    StructField("record_amount", IntegerType, nullable = false),
    StructField("timestamp", LongType)
  ))

  /** Wire-level input record (pre-canonicalization), mirroring
    * `exporter.Record` as consumed at `etl/transformer/transformer.go:207-292`.
    */
  val wireRecords: StructType = StructType(Seq(
    StructField("record_number", LongType, nullable = false),
    StructField("id", BinaryType, nullable = false),
    StructField("object_id", BinaryType),
    StructField("jet_id", StringType, nullable = false),
    StructField("virtual_type", StringType, nullable = false),
    StructField("image", BinaryType),
    StructField("memory", BinaryType),
    StructField("prev_state_id", BinaryType),
    StructField("raw_data", BinaryType),
    StructField("pulse_number", LongType, nullable = false)
  ))
}
