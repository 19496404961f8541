package graft.ingest

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

/** P1/P2/F9 — wire-record canonicalization, one wire row at a time.
  *
  * The reference switches on the protobuf `Virtual` union per record
  * (`etl/transformer/transformer.go:207-292`): activate/amend/deactivate →
  * "state", incoming/outgoing request → "request", result → "result";
  * unsupported union members are DROPPED. Genesis-pulse records
  * (pulse == MinTimePulse) get their object reference rewritten from the
  * record id. A pulse is bounded by the pulse cadence and already sits in
  * the driver when it is fetched, so this is a plain function over its
  * rows: no Catalyst plan is built, analyzed or optimized per pulse.
  */
object Canonicalize {

  /** Insolar MinTimePulse — first non-genesis pulse number. */
  val MinTimePulse = 65536L

  /** The canonical record columns. The nullability is the one the store's
    * files have always carried (the Column projection this function
    * replaced typed `type` nullable), so the written footers stay the same.
    */
  val schema: StructType = StructType(Seq(
    StructField("reference", BinaryType, nullable = false),
    StructField("type", StringType),
    StructField("object_reference", BinaryType),
    StructField("prototype_reference", BinaryType),
    StructField("payload", BinaryType),
    StructField("prev_record_reference", BinaryType),
    StructField("hash", BinaryType),
    StructField("raw_data", BinaryType),
    StructField("jet_id", StringType, nullable = false),
    StructField("pulse_number", LongType, nullable = false),
    StructField("order_hint", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false)))

  /** F9 — wire union tag → canonical record type; None for unsupported. */
  private def recordType(virtualType: String): Option[String] = virtualType match {
    case "activate" | "amend" | "deactivate" => Some("state")
    case "incoming_request" | "outgoing_request" => Some("request")
    case "result" => Some("result")
    case _ => None
  }

  /** P2 — an absent, empty or all-zero reference is null. */
  private def emptyRefToNull(ref: Array[Byte]): Array[Byte] =
    if (ref == null || ref.forall(_ == 0)) null else ref

  private val sha256 =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("SHA-256"))

  /** One wire row ([[graft.model.Schemas.wireRecords]] column order) as a
    * canonical row in [[schema]]; None for an unsupported union member
    * (P1). Byte columns are shared with the wire row, not copied.
    */
  def apply(wire: Row): Option[Row] = {
    val vt = wire.getString(4)
    recordType(vt).map { tpe =>
      def bytes(i: Int) = wire.getAs[Array[Byte]](i)
      val id = bytes(1)
      val raw = bytes(8)
      val pulse = wire.getLong(9)
      new GenericRowWithSchema(Array[Any](
        id,
        tpe,
        // genesis special case: object ref falls back to the record id
        if (pulse == MinTimePulse) id else emptyRefToNull(bytes(2)),
        if (vt == "activate" || vt == "amend") emptyRefToNull(bytes(5)) else null,
        if (vt == "activate" || vt == "amend" || vt == "result") bytes(6) else null,
        if (vt == "amend" || vt == "deactivate") emptyRefToNull(bytes(7)) else null,
        // the 32-byte digest itself, which the API serves base64-encoded
        sha256.get.digest(if (raw == null) Array.emptyByteArray else raw),
        raw,
        wire.getString(3),
        pulse,
        wire.getLong(0),
        // pulse numbers encode time (reference: `transformer.go:161-170`,
        // `testutils/models.go:76-89`): genesis epoch + elapsed seconds
        pulse - MinTimePulse), schema)
    }
  }
}
