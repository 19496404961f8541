package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

/** End-to-end smoke drive of the library's public surface on the real
  * testdata — the ingest spine (Canonicalize → ChainSort → order
  * assignment), the status ops, and the training-pipeline operators.
  * Run: sbt "runMain graft.Smoke [sfDir]".
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.serviceBuilder(Sessions.cpus(), "graft-smoke", Some(sfDir))
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    var failed = 0
    def check(name: String)(body: => Any): Unit = {
      val r = try body.toString catch {
        case NonFatal(e) => failed += 1; s"FAIL ${e.getMessage}"
      }
      println(f"[smoke] $name%-28s $r")
    }

    // ---- ingest spine: wire records → canonical → chain sort → order ----
    val wire = spark.range(0, 30).select(
      col("id").as("record_number"),
      sha2(concat(lit("id"), col("id")), 256).cast("binary").as("id"),
      sha2(concat(lit("obj"), col("id") % 5), 256).cast("binary").as("object_id"),
      lpad(bin(col("id") % 4), 2, "0").as("jet_id"),
      element_at(array(lit("activate"), lit("amend"), lit("result"),
        lit("incoming_request"), lit("garbage_type")), (col("id") % 5 + 1).cast("int")).as("virtual_type"),
      lit(Array[Byte](1, 2)).as("image"),
      lit(Array[Byte](3)).as("memory"),
      when(col("id") >= 5, sha2(concat(lit("id"), col("id") - 5), 256).cast("binary"))
        .otherwise(lit(null).cast("binary")).as("prev_state_id"),
      sha2(col("id").cast("string"), 256).cast("binary").as("raw_data"),
      (lit(65536L) + (col("id") % 3) * 10).as("pulse_number"))

    val canon = ingest.Canonicalize(wire)
    check("canonicalize rows (drops 1/5)")(canon.count())

    val nodes = canon.select(
      hex(col("reference")).as("key"),
      concat_ws("|", col("pulse_number"), col("jet_id"), hex(coalesce(col("object_reference"), lit(Array.emptyByteArray)))).as("group_key"),
      hex(coalesce(col("prev_record_reference"), lit(Array.emptyByteArray))).as("prev_key"),
      (col("type") === "state").as("chained"),
      col("order_hint").cast("long").as("order_hint"))
    val sorted = operators.ChainSort.sortDf(nodes)
    check("chain-sorted rows")(sorted.count())

    val withOrder = ingest.PulseWriter.assignOrder(
      canon.join(sorted.withColumnRenamed("key", "ref_hex"),
        hex(col("reference")) === col("ref_hex"), "left")
        .withColumn("chain_pos", coalesce(col("chain_pos"), lit(Int.MaxValue))))
    check("order assigned, max order")(withOrder.agg(max("order")).first().get(0))

    // ---- status ops ----
    val drops = withOrder.groupBy("pulse_number", "jet_id").count()
    val status = operators.Completeness.withSequential(
      operators.Completeness.pulseCompleteness(drops))
    check("pulse status rows")(status.count())
    check("chain repair")(operators.PulseChain.repairChain(
      status.withColumn("prev_pulse_number", col("pulse_number") - 10)).count())
    check("gap detect 65536..65576")(operators.Completeness.missingInRange(
      status, "pulse_number", 65536L, 65576L, 10L).count())

    // ---- training-pipeline ops on real tables ----
    // through Domain (drift normalization + relation cache), same as the
    // production read paths — a raw read here would smoke-FAIL on a
    // drifted physical type the served paths handle fine
    val docs = graft.model.Domain.documents(spark, sfDir)
    val emb = graft.model.Domain.embeddings(spark, sfDir)
    check("dedup exact classes")(text.Dedup.exact(docs).count())
    check("dedup minhash pairs")(text.Dedup.minhashPairs(docs, threshold = 0.5).count())
    check("dedup simhash pairs")(text.Dedup.simhashPairs(docs).count())
    check("text quality rows")(docs.select(col("doc_id"),
      text.TextAnalysis.qualityScore(col("text")).as("q"),
      text.TextAnalysis.languageId(col("text")).as("lang")).count())
    val q = emb.orderBy("vec_id").select("embedding").as[Seq[Float]].first()
    check("ann brute-force top5")(vector.Similarity.bruteForceTopK(emb, q, 5).count())
    check("ann lsh top5")(vector.Similarity.lshTopK(emb, q, 5, bits = 8).count())
    check("multimodal features")(multimodal.Multimodal.extractFeatures(
      multimodal.Multimodal.syntheticMedia(docs)).count())
    check("video frame samples")(multimodal.Multimodal.sampleFrames(
      multimodal.Multimodal.syntheticMedia(docs)).count())
    check("exporter feed")(streaming.PulseFeed.nextCompletePulseFiltered(
      status.withColumn("prev_pulse_number", col("pulse_number") - 10),
      withOrder, 65526L, Seq.empty).count())
    // the same feed over the REAL wire: netty gRPC server + client on a
    // localhost socket, the reference's exporter-api service/method
    check("grpc exporter wire") {
      val pulsesDf = status.withColumn("prev_pulse_number", col("pulse_number") - 10)
      val handle = streaming.GrpcPulseExporter.start(pulsesDf, withOrder, port = 0,
        pulsePeriodMs = 50L)
      val ch = ingest.GrpcTransport.channel("localhost", handle.port)
      try {
        val first = org.sparkproject.connect.grpc.stub.ClientCalls.blockingServerStreamingCall(
          ch, ingest.GrpcWire.GetNextPulseMethod,
          org.sparkproject.connect.grpc.CallOptions.DEFAULT,
          ingest.GrpcWire.GetNextPulseRequest(65526L)).next()
        s"pulse=${first.pulseNumber} records=${first.recordAmount}"
      } finally { ingest.GrpcTransport.close(ch); handle.stop() }
    }

    // ---- driver-loop pipeline on generated fixtures ----
    val base = java.nio.file.Files.createTempDirectory("graft-smoke-pipe").toString
    val wireAll = gen.Fixtures.multiPulseBatches(spark, 3, 8)
    val pipe = new ingest.Pipeline(spark, base,
      p => { val w = wireAll.filter(col("pulse_number") === p); if (w.isEmpty) None else Some(w) })
    check("pipeline ingest+status") {
      val r = pipe.run(65546L, 65566L)
      s"ingested=${r.ingested.size} missing=${r.missing.size} status=${pipe.status().count()}"
    }
    check("spine end-to-end rows")(ingest.Spine(wireAll).count())

    check("event windows (batch mode)")(streaming.EventWindows.typeCounts(
      spark.read.parquet(s"$sfDir/events.parquet")).count())

    // ---- the eight read endpoints ----
    check("api: pulses page")(api.Endpoints.pulses(spark, sfDir).count())
    check("api: pulse point")(api.Endpoints.pulse(spark, sfDir, 473353L).count())
    check("api: drops by pulse")(api.Endpoints.jetDropsByPulse(spark, sfDir, 473353L).count())
    val firstDropId = api.Endpoints.jetDropsByPulse(spark, sfDir, 473353L)
      .collect().headOption.map(_.getAs[String]("jet_drop_id")).getOrElse("*:473353")
    check("api: drop by id")(api.Endpoints.jetDropById(spark, sfDir, firstDropId).map(_.count()).getOrElse(-1L))
    check("api: drop records")(api.Endpoints.jetDropRecords(spark, sfDir, firstDropId).map(_.count()).getOrElse(-1L))
    check("api: drops by jet prefix")(api.Endpoints.jetDropsByJetId(spark, sfDir, "10", limit = 50).count())
    check("api: lifeline")(api.Endpoints.objectLifeline(spark, sfDir, 7L).count())
    check("api: search")(api.Endpoints.search(spark, sfDir, "473353")._1)

    check("entry rows>0")(SparkEntry.entry(spark).count())
    spark.stop()
    println("[smoke] done")
    // a FAIL line must gate callers, not just color the log
    if (failed > 0) { System.err.println(s"[smoke] $failed check(s) FAILED"); sys.exit(1) }
  }
}
