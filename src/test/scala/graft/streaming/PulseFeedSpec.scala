package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PulseFeedSpec extends SparkSpec {

  test("ST1 per-pulse commits: wire pulses -> spine -> store -> lifeline order") {
    import graft.gen.Fixtures
    val store = java.nio.file.Files.createTempDirectory("graft-st1-store").toString

    // one commit per pulse, through the daemon's own commit path (spine:
    // canonicalize -> chain sort -> order, then the manifested replace)
    val wire = Fixtures.lifelineWire(spark, "st1", nPulses = 3, amendsPerPulse = 2)
    val pulses = wire.select("pulse_number").distinct()
      .collect().map(_.getLong(0)).sorted
    pulses.foreach { p =>
      graft.ingest.PulseWriter.commitPulse(wire.filter(col("pulse_number") === p), store)
    }

    // the store must now serve the lifeline in causal order
    val got = storeTable(store, "records")
      .filter(col("type") === "state")
      .orderBy(col("pulse_number"), col("order"))
      .select(decode(col("reference"), "UTF-8").as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Fixtures.lifelineExpectedStates("st1", nPulses = 3, amendsPerPulse = 2))
  }

  test("nextCompletePulseFiltered: join body returns the matching pulse with recount") {
    import spark.implicits._
    val pulses = Seq((70010L, 70000L, true), (70020L, 70010L, false))
      .toDF("pulse_number", "prev_pulse_number", "is_complete")
    val records = Seq(
      (70010L, "a"), (70010L, "b"), (70020L, "c"))
      .toDF("pulse_number", "payload")
      .withColumn("prototype_reference", encode(col("payload"), "UTF-8"))
    val out = PulseFeed.nextCompletePulseFiltered(pulses, records, 70000L, Seq.empty)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("pulse_number") == 70010L)
    assert(out(0).getAs[Long]("record_amount") == 2L)
  }
}
