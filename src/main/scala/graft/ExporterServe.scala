package graft

import org.apache.spark.sql.functions._

/** The exporter-api binary (`cmd/exporter-api/main.go` analog): serve
  * `exporter.PulseExporter/GetNextPulse` — the reference's gRPC service,
  * exact proto layout — over the engine's pulse/record tables until
  * killed.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_GRPC_PORT=8090 sbt "runMain graft.ExporterServe"
  *
  * The per-stream poll is a broadcast join against one candidate pulse
  * row of the pulses spine ([[graft.streaming.PulseFeed]]'s oracled
  * `be_exporter_next` body), so a thousand concurrent subscriber streams
  * cost one spine probe each per pulse period — the fact table is only
  * touched for the filtered recount of the single admitted pulse.
  */
object ExporterServe {

  /** Everything `main` does short of blocking: resolve the served
    * pulse/record views (defaulting a missing prototype column — a store
    * whose records carry none still serves unfiltered subscriptions; a
    * prototype-filtered request then matches nothing, like a filter no
    * record satisfies) and bind the netty listener. Callers own
    * `stop()`.
    */
  def bootstrap(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      port: Int, pulsePeriodMs: Long = 10000L): graft.streaming.GrpcPulseExporter.Handle = {
    // SUPPLIERS, not captured frames: a parquet DataFrame freezes its
    // file listing at creation, so a captured view of a LIVE ingest
    // store would long-poll the boot-time snapshot forever (or the
    // startup window's empty frame). Re-resolving per poll is what the
    // HTTP routes do; over the immutable corpus the supplier hits the
    // relation cache, so the per-poll cost is a lookup.
    def records(): org.apache.spark.sql.DataFrame = {
      val recs = graft.model.Domain.servedRecords(spark, sfDir)
      if (recs.columns.contains("prototype_reference")) recs
      else recs.withColumn("prototype_reference", lit(null).cast("binary"))
    }
    // A call runs on a pool thread that one of grpc's netty event loops
    // made, and a thread inherits Spark's job group from the thread that
    // made it. Those event loops are shared by every gRPC client and
    // server in the JVM and are started by whichever thread first
    // registers a channel on them (an ingest daemon's fetch, say), so
    // the exporter's poll jobs would be attributed to that thread's
    // group. Each call re-applies the bootstrapping thread's group.
    val sc = spark.sparkContext
    val group = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val description = sc.getLocalProperty("spark.job.description")
    val interrupt = "true" == sc.getLocalProperty("spark.job.interruptOnCancel")
    graft.streaming.GrpcPulseExporter.start(
      () => graft.model.Domain.servedPulses(spark, sfDir), () => records(),
      port, pulsePeriodMs,
      () => group.fold(sc.clearJobGroup())(sc.setJobGroup(_, description, interrupt)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val port = Sessions.envLong("SPARK_GRAFT_GRPC_PORT", 8090L, max = Sessions.MaxPort).toInt
    val periodMs = Sessions.envLong("SPARK_GRAFT_PULSE_PERIOD_MS", 10000L, min = 1L)
    val spark = Sessions.serviceBuilder(Sessions.cpus(), "graft-exporter-api", Some(sfDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val handle = bootstrap(spark, sfDir, port, periodMs)
    println(s"""{"metric":"exporter_serving","port":${handle.port},"sf":"$sfDir"}""")
    sys.addShutdownHook { handle.stop(); spark.stop() }
    Thread.currentThread.join() // serve until killed
  }
}
