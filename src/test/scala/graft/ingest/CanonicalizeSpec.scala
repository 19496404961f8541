package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Codecs
import graft.gen.Fixtures
import graft.model.Schemas

/** The Column projection the per-row [[Canonicalize]] replaced, kept
  * verbatim as the reference it must reproduce row for row: `when/
  * otherwise` algebra over a wire frame, one projection with no UDFs.
  */
object ColumnCanonicalize {

  private val StateTypes = Seq("activate", "amend", "deactivate")
  private val RequestTypes = Seq("incoming_request", "outgoing_request")

  /** F9 — wire union tag → canonical record type; null for unsupported. */
  def recordType(virtualType: Column): Column =
    when(virtualType.isin(StateTypes: _*), lit("state"))
      .when(virtualType.isin(RequestTypes: _*), lit("request"))
      .when(virtualType === "result", lit("result"))
      .otherwise(lit(null).cast("string"))

  def apply(wire: DataFrame): DataFrame =
    wire
      .withColumn("type", recordType(col("virtual_type")))
      .filter(col("type").isNotNull) // unsupported union members dropped
      .select(
        col("id").as("reference"),
        col("type"),
        // genesis special case: object ref falls back to the record id
        when(col("pulse_number") === Canonicalize.MinTimePulse, col("id"))
          .otherwise(Codecs.emptyRefToNull(col("object_id"))).as("object_reference"),
        when(col("virtual_type").isin("activate", "amend"),
          Codecs.emptyRefToNull(col("image")))
          .otherwise(lit(null).cast("binary")).as("prototype_reference"),
        when(col("virtual_type").isin("activate", "amend", "result"), col("memory"))
          .otherwise(lit(null).cast("binary")).as("payload"),
        when(col("virtual_type").isin("amend", "deactivate"),
          Codecs.emptyRefToNull(col("prev_state_id")))
          .otherwise(lit(null).cast("binary")).as("prev_record_reference"),
        // unhex, NOT cast: sha2 returns the ASCII-HEX string
        unhex(sha2(coalesce(col("raw_data"), lit(Array.emptyByteArray)), 256))
          .as("hash"),
        col("raw_data"),
        col("jet_id"),
        col("pulse_number"),
        col("record_number").as("order_hint"),
        (col("pulse_number") - lit(Canonicalize.MinTimePulse)).as("timestamp")
      )
}

class CanonicalizeSpec extends SparkSpec {

  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")
  private val zeros = Array.fill[Byte](4)(0)
  private val G = Fixtures.GenesisPulse
  private val P = G + Fixtures.PulseDelta

  /** Rows as comparable strings, binaries by content. */
  private def show(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case v => String.valueOf(v)
  }.mkString("|"))

  private def assertSame(wire: Seq[Row]): Seq[Row] = {
    val frame = spark.createDataFrame(wire.asJava, Schemas.wireRecords)
    val oracle = ColumnCanonicalize(frame)
    assert(Canonicalize.schema == oracle.schema)
    val got = wire.flatMap(Canonicalize(_))
    assert(show(got) == show(oracle.collect().toSeq))
    got
  }

  test("the row function equals the Column oracle row for row: every union " +
      "member, genesis, empty and all-zero refs, null raw_data") {
    val types = Seq("activate", "amend", "deactivate", "incoming_request",
      "outgoing_request", "result", "code", "pending_filament", "")
    val refs = Seq(null, Array.emptyByteArray, zeros, b("ref"))
    val wire = for {
      (tpe, t) <- types.zipWithIndex
      (ref, r) <- refs.zipWithIndex
      pulse <- Seq(G, P)
    } yield {
      val n = (t * refs.size + r) * 2L + (if (pulse == G) 0 else 1)
      Row(n, b(s"id-$n"), ref, "01", tpe, ref, Option(ref).map(_ ++ b("m")).orNull, ref,
        if (r == 0) null else b(s"raw-$n"), pulse)
    }
    val got = assertSame(wire)
    assert(got.length == 6 * refs.size * 2, "the three unsupported tags drop")
    assert(got.map(_.getAs[String]("type")).toSet == Set("state", "request", "result"))
  }

  test("the row function equals the Column oracle over the lifeline and " +
      "multi-pulse fixtures") {
    Seq(Fixtures.lifelineWire(spark, "canon", nPulses = 3, amendsPerPulse = 2),
      Fixtures.multiPulseBatches(spark, nPulses = 2, recordsPerPulse = 10, startPulse = G))
      .foreach(w => assert(assertSame(w.collect().toSeq).nonEmpty))
  }

  test("the stored hash is the sha256 digest of raw_data, of no bytes when it is null") {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val Seq(withRaw, noRaw) = Seq(b("payload"), null).map(raw => Canonicalize(
      Row(1L, b("id"), b("obj"), "0", "result", null, null, null, raw, P)).get)
    assert(withRaw.getAs[Array[Byte]]("hash").sameElements(sha.digest(b("payload"))))
    assert(noRaw.getAs[Array[Byte]]("hash").sameElements(sha.digest(Array.emptyByteArray)))
    assert(noRaw.isNullAt(noRaw.fieldIndex("raw_data")))
  }
}
