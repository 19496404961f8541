package graft

import org.apache.spark.sql.functions._

import graft.ingest.{GrpcTransport, GrpcWire}
import graft.model.Domain
import graft.streaming.PulseFeed

/** The exporter-api binary's startup path (`ExporterServe.bootstrap` —
  * what `main` runs short of blocking) on the real testdata domain: the
  * served views wire up (including the prototype-column default for a
  * store that carries none) and the first streamed response over the
  * live socket equals the library feed body's answer — the same
  * `nextCompletePulseFiltered` whose DataFrame twin is oracled as
  * `be_exporter_next`.
  */
class ExporterServeSpec extends SparkSpec {

  // sf0.01: the smallest corpus whose jet trees actually COVER (at
  // sf0.001 no pulse passes the completeness aggregator, so the feed is
  // legitimately empty there — be_exporter_next's oracle agrees)
  private val dir = "/root/testdata/sf0.01"

  test("ExporterServe.bootstrap serves the feed from the testdata domain over gRPC") {
    val pulses = Domain.servedPulses(spark, dir)
    val records = Domain.servedRecords(spark, dir)
      .withColumn("prototype_reference", lit(null).cast("binary"))
    // a cursor whose complete, record-bearing successor exists — derived
    // from the data so testdata regeneration cannot strand the test
    val cursor = pulses.filter(col("is_complete"))
      .join(records.select("pulse_number").distinct(), "pulse_number")
      .orderBy("pulse_number").select("prev_pulse_number").collect().headOption
    assume(cursor.nonEmpty, "no complete record-bearing pulse in this corpus")
    val from = cursor.get.getLong(0)
    val expected = PulseFeed.nextCompletePulseFiltered(pulses, records, from, Nil)
      .collect()
    assume(expected.nonEmpty, s"no feed successor for cursor $from")

    val handle = ExporterServe.bootstrap(spark, dir, port = 0, pulsePeriodMs = 50L)
    val ch = GrpcTransport.channel("localhost", handle.port)
    try {
      val got = org.sparkproject.connect.grpc.stub.ClientCalls.blockingServerStreamingCall(
        ch, GrpcWire.GetNextPulseMethod,
        org.sparkproject.connect.grpc.CallOptions.DEFAULT,
        GrpcWire.GetNextPulseRequest(from)).next()
      assert(got.pulseNumber == expected.head.getAs[Long]("pulse_number"))
      assert(got.prevPulseNumber == expected.head.getAs[Long]("prev_pulse_number"))
      assert(got.recordAmount == expected.head.getAs[Long]("record_amount"))
    } finally { GrpcTransport.close(ch); handle.stop() }
  }

  test("a subscriber over a LIVE ingest store observes pulses committed AFTER " +
      "the exporter started — the per-poll views re-resolve, never freeze") {
    // the exporter-api and the block-explorer daemon run side by side in
    // every real deployment: a captured DataFrame freezes its parquet
    // file listing at server start, which would replay the boot-time
    // snapshot forever (and a server started inside the startup window
    // would long-poll an empty frame for the stream's whole life)
    val base = java.nio.file.Files.createTempDirectory("graft-exporter-live").toString
    val start = gen.Fixtures.GenesisPulse + gen.Fixtures.PulseDelta
    val wire = gen.Fixtures.multiPulseBatches(spark, nPulses = 2,
      recordsPerPulse = 6, startPulse = start)
    // boot-time store: ONLY pulse 0 exists (complete+sequential)
    ingest.PulseWriter.commitPulse(
      wire.filter(col("pulse_number") === start), base)
    def pulseRow(i: Int) = {
      val p = start + i * gen.Fixtures.PulseDelta
      StorePulse(p, p - gen.Fixtures.PulseDelta, p + gen.Fixtures.PulseDelta,
        complete = true, sequential = true, 2, 6L)
    }
    writeStorePulses(base, Seq(pulseRow(0)))

    val handle = ExporterServe.bootstrap(spark, base, port = 0, pulsePeriodMs = 50L)
    val ch = GrpcTransport.channel("localhost", handle.port)
    try {
      // subscribe FROM pulse 0: its successor does not exist yet, so the
      // stream long-polls; then the "daemon" commits pulse 1 and appends
      // it to the pulses dimension — the poll must pick it up
      val got = new java.util.concurrent.SynchronousQueue[GrpcWire.GetNextPulseResponse]()
      val reader = new Thread(() => {
        val it = org.sparkproject.connect.grpc.stub.ClientCalls.blockingServerStreamingCall(
          ch, GrpcWire.GetNextPulseMethod,
          org.sparkproject.connect.grpc.CallOptions.DEFAULT,
          GrpcWire.GetNextPulseRequest(start))
        got.put(it.next())
      }, "live-subscriber")
      reader.start()
      Thread.sleep(300) // several empty polls against the boot snapshot
      val p1 = start + gen.Fixtures.PulseDelta
      ingest.PulseWriter.commitPulse(wire.filter(col("pulse_number") === p1), base)
      // the flush replaces the whole bucket: both rows
      writeStorePulses(base, Seq(pulseRow(0), pulseRow(1)))
      val resp = got.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(resp != null, "the stream never served the post-start pulse")
      assert(resp.pulseNumber == p1 && resp.prevPulseNumber == start)
      assert(resp.recordAmount == 6L)
      reader.join(5000)
    } finally { GrpcTransport.close(ch); handle.stop() }
  }

  test("the serve-side recount reaches the records artifact as a pushed pulse predicate") {
    // the per-poll recount must prune to one pulse's row groups, never
    // rescan the fact (the indexed-DB analog the poll loop relies on)
    val records = Domain.servedRecords(spark, dir)
    val pn = records.select("pulse_number").head().getLong(0)
    val p = records.filter(col("pulse_number") === pn)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("EqualTo(pulse_number"),
      s"recount plan must push the pulse bound to parquet:\n${p.take(2000)}")
  }

  test("a subscriber's poll jobs carry the job group of the thread that " +
      "bootstrapped the exporter, whichever thread made the gRPC threads") {
    val id = java.util.UUID.randomUUID().toString
    val (boot, other) = (s"exporter-boot-$id", s"other-$id")
    val pollGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.stageInfos.exists(_.details.contains("GrpcPulseExporter")))
          pollGroups.add(Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    // a thread in ANOTHER job group starts a gRPC server first, so the
    // shared netty event loops that later serve the exporter's calls (and
    // make its pool threads) are not started by the bootstrapping thread
    def inOther[T](body: => T): T = {
      var out: Option[T] = None
      val t = new Thread(() => {
        spark.sparkContext.setJobGroup(other, "another component")
        out = Some(body)
      })
      t.start(); t.join()
      out.get
    }
    val decoy = inOther(org.sparkproject.connect.grpc.netty.NettyServerBuilder
      .forPort(0).build().start())
    spark.sparkContext.setJobGroup(boot, "exporter")
    val handle = try ExporterServe.bootstrap(spark, dir, port = 0, pulsePeriodMs = 50L)
      finally spark.sparkContext.clearJobGroup()
    val ch = GrpcTransport.channel("localhost", handle.port)
    spark.sparkContext.addSparkListener(l)
    try {
      val subscriber = new Thread(() => {
        spark.sparkContext.setJobGroup(other, "subscriber")
        try {
          org.sparkproject.connect.grpc.stub.ClientCalls.blockingServerStreamingCall(
            ch, GrpcWire.GetNextPulseMethod,
            org.sparkproject.connect.grpc.CallOptions.DEFAULT,
            GrpcWire.GetNextPulseRequest(0L)).hasNext
          ()
        } catch { case scala.util.control.NonFatal(_) => () } // the channel closes
      })
      subscriber.start()
      val by = System.nanoTime() + 30L * 1000000000L
      while (pollGroups.size < 3 && System.nanoTime() < by) Thread.sleep(20)
      assert(pollGroups.size >= 3, "the subscriber's polls ran no Spark job")
      import scala.jdk.CollectionConverters._
      assert(pollGroups.asScala.forall(_ == boot),
        s"poll jobs ran in groups ${pollGroups.asScala.toSet}, not $boot")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      GrpcTransport.close(ch); handle.stop(); decoy.shutdownNow()
    }
  }
}
