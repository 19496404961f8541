package graft.ingest

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.gen.Fixtures
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec {

  private def wire = {
    import spark.implicits._
    Seq(
      // (record_number, id, object_id, jet_id, virtual_type, image, memory, prev_state_id, raw, pulse)
      (1L, "r1", "obj", "0", "activate", "img", "mem", null, "raw1", 70000L),
      (2L, "r2", "obj", "0", "amend", "img", "mem", "r1", "raw2", 70000L),
      (3L, "r3", "obj", "0", "result", null, "mem", null, "raw3", 70000L),
      (4L, "r4", "obj", "0", "unknown_union", null, null, null, "raw4", 70000L),
      (5L, "r5", "", "0", "incoming_request", null, null, null, "raw5", 65536L))
      .toDF("record_number", "ids", "object_ids", "jet_id", "virtual_type",
        "images", "memories", "prev_state_ids", "raws", "pulse_number")
      .select(col("record_number"),
        encode(col("ids"), "UTF-8").as("id"),
        encode(col("object_ids"), "UTF-8").as("object_id"),
        col("jet_id"), col("virtual_type"),
        encode(col("images"), "UTF-8").as("image"),
        encode(col("memories"), "UTF-8").as("memory"),
        encode(col("prev_state_ids"), "UTF-8").as("prev_state_id"),
        encode(col("raws"), "UTF-8").as("raw_data"),
        col("pulse_number"))
  }

  test("canonicalize maps union types, drops unsupported, genesis rewrite") {
    val out = Canonicalize(wire).orderBy("order_hint").collect()
    assert(out.length == 4) // unknown_union dropped
    assert(out.map(_.getAs[String]("type")).toSeq ==
      Seq("state", "state", "result", "request"))
    // amend carries prev ref; activate does not
    assert(out(0).isNullAt(out(0).fieldIndex("prev_record_reference")))
    assert(new String(out(1).getAs[Array[Byte]]("prev_record_reference"), "UTF-8") == "r1")
    // genesis pulse: empty object ref rewritten to the record id
    val genesis = out(3)
    assert(new String(genesis.getAs[Array[Byte]]("object_reference"), "UTF-8") == "r5")
    // result keeps payload, request does not
    assert(new String(out(2).getAs[Array[Byte]]("payload"), "UTF-8") == "mem")
    assert(genesis.isNullAt(genesis.fieldIndex("payload")))
  }

  test("assignOrder is deterministic and dense per (pulse, jet)") {
    // W7's order is assigned by Spine: each (pulse, jet) drop is numbered
    // densely by chain position, then reference in unsigned byte order
    def b(xs: Int*) = xs.map(_.toByte).toArray
    // drop (70000, "0"): object A chains 0x7f -> 0x01, object B is the one
    // state 0x80; positions tie at 1 and unsigned bytes put 0x7f first
    val recs = Seq(
      (b(0x01), b(0x0a), "0", "amend", b(0x7f), 70000L),
      (b(0x80), b(0x0b), "0", "activate", null, 70000L),
      (b(0x7f), b(0x0a), "0", "activate", null, 70000L),
      (b(0x02), b(0x0c), "1", "activate", null, 70000L),
      (b(0x03), b(0x0c), "0", "activate", null, 70010L))
    def numbered(rs: Seq[(Array[Byte], Array[Byte], String, String, Array[Byte], Long)]) =
      Spine(spark.createDataFrame(rs.zipWithIndex.map {
        case ((id, obj, jet, tpe, prev, pulse), i) =>
          org.apache.spark.sql.Row(i.toLong, id, obj, jet, tpe, null, null, prev, null, pulse)
      }.asJava, graft.model.Schemas.wireRecords))
        .select(col("reference"), col("pulse_number"), col("jet_id"), col("order"))
        .collect().map(r => (r.getAs[Array[Byte]](0).head & 0xff, r.getLong(1),
          r.getString(2), r.getInt(3))).toSet
    val out = numbered(recs)
    assert(out == Set((0x7f, 70000L, "0", 1), (0x80, 70000L, "0", 2), (0x01, 70000L, "0", 3),
      (0x02, 70000L, "1", 1), (0x03, 70010L, "0", 1)))
    // arrival order does not matter: a re-delivered pulse numbers the same
    assert(numbered(recs.reverse) == out)
  }

  test("writePulsePartition is idempotent: rewrite produces identical data") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-test").toString
    val df = Seq((1L, "0", "x"), (1L, "1", "y"), (2L, "0", "z"))
      .toDF("pulse_number", "jet_id", "payload")
    PulseWriter.writePulsePartition(df, "records", tmp)
    val first = storeTable(tmp, "records").collect().map(_.toString).sorted
    PulseWriter.writePulsePartition(df, "records", tmp) // retry / re-delivery
    val second = storeTable(tmp, "records").collect().map(_.toString).sorted
    assert(first.toSeq == second.toSeq,
      "a re-delivered pulse must replace its partition with identical data " +
        "(manifested read — the retained superseded generation is invisible)")
    assert(first.length == 3)
  }

  test("the stored record hash is the 32-byte sha256 DIGEST of raw_data, " +
      "not the hex string's bytes") {
    val base = java.nio.file.Files.createTempDirectory("graft-pipe-hash").toString
    val start = Fixtures.GenesisPulse + Fixtures.PulseDelta
    val wire = Fixtures.multiPulseBatches(spark, 1, recordsPerPulse = 4, startPulse = start)
    PulseWriter.commitPulse(wire, base)
    val rows = storeTable(base, "records")
      .select("hash", "raw_data").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Array[Byte]]("hash")
      assert(h.length == 32, s"sha256 digest must be 32 bytes, got ${h.length}")
      val expected = java.security.MessageDigest.getInstance("SHA-256")
        .digest(Option(r.getAs[Array[Byte]]("raw_data")).getOrElse(Array.emptyByteArray))
      assert(h.sameElements(expected), "hash must equal sha256(raw_data)")
    }
  }
}
