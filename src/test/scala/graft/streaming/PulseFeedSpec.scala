package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class PulseFeedSpec extends SparkSpec {

  test("ingestStream delivers landed pulse files through foreachBatch") {
    import spark.implicits._
    val landing = java.nio.file.Files.createTempDirectory("graft-landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val schema = StructType(Seq(
      StructField("reference", LongType), StructField("pulse_number", LongType)))

    Seq((1L, 70000L), (2L, 70000L)).toDF("reference", "pulse_number")
      .coalesce(1).write.mode("append").parquet(landing)

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = PulseFeed.ingestStream(spark, landing, schema,
        (batch, _) => batch.select("reference").collect().foreach(r => seen.add(r.getLong(0))))
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(seen.toArray.toSet == Set(1L, 2L))
      // late-arriving second pulse lands and flows through the same path
      Seq((3L, 70010L)).toDF("reference", "pulse_number")
        .coalesce(1).write.mode("append").parquet(landing)
      q.processAllAvailable()
      assert(seen.toArray.toSet == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("ST1 end-to-end as a stream: landed wire pulses -> spine -> store -> lifeline") {
    import graft.gen.Fixtures
    val landing = java.nio.file.Files.createTempDirectory("graft-st1-landing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-st1-ckpt").toString
    val store = java.nio.file.Files.createTempDirectory("graft-st1-store").toString

    // land one parquet file per pulse, like the extractor's per-pulse bundles
    val wire = Fixtures.lifelineWire(spark, "st1", nPulses = 3, amendsPerPulse = 2)
    val pulses = wire.select("pulse_number").distinct()
      .collect().map(_.getLong(0)).sorted
    pulses.foreach { p =>
      wire.filter(col("pulse_number") === p)
        .coalesce(1).write.mode("append").parquet(landing)
    }

    // foreachBatch hands each micro-batch to the SAME batch spine used by
    // backfill: canonicalize -> chain sort -> order -> partition commit
    val q = PulseFeed.ingestStream(spark, landing, wire.schema, (batch, _) =>
        if (!batch.isEmpty) {
          commitFrame(graft.ingest.Spine(batch), s"$store/records")
          ()
        })
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()

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
