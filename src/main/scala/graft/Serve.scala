package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The API server binary (`cmd/api/main.go` analog): bind the eight
  * explorer endpoints over the graft engine and serve until killed.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_HTTP_PORT=8080 sbt "runMain graft.Serve"
  *
  * Startup: FAIR scheduling for concurrent requests, standing spines
  * ensured before the first request, and a plateau warmup of every
  * endpoint shape so the first client doesn't pay the JIT/codegen cliff
  * (round-7's measured 2.4 q/s fresh-session floor without it).
  */
object Serve {

  /** Concurrent calls per warm burst. */
  private val WarmPar = 8

  /** Everything `main` does short of blocking: ensure the standing
    * spines, warm the endpoint plans to their concurrent plateau, bind
    * the listener, then warm the full HTTP stack (routing → Endpoints →
    * collect → JSON) so the first real client hits a compiled path.
    * Returns the live handle; callers own `stop()`.
    * `warmBudgetMsPerShape` exists so the spec can drive the REAL
    * startup path on a small corpus without the production plateau
    * budget.
    */
  def bootstrap(spark: SparkSession, sfDir: String,
      port: Int, warmBudgetMsPerShape: Long = 3000L): graft.api.HttpApi.Handle = {
    graft.model.Domain.servedRecords(spark, sfDir)
    graft.model.Domain.servedJetDrops(spark, sfDir)
    graft.model.Domain.servedPulses(spark, sfDir)
    SparkEntry.queries.toSeq.filter(_._1.startsWith("be_")).sortBy(_._1).foreach { case (_, fn) =>
      warmToPlateau(warmBudgetMsPerShape)(() =>
        concurrently(WarmPar) { fn(spark, sfDir).count() })
    }

    val handle = graft.api.HttpApi.start(spark, sfDir, port)
    val client = HttpClient.newHttpClient()
    httpShapes(spark, sfDir).foreach { case (_, path) =>
      val req = HttpRequest.newBuilder(
        URI.create(s"http://localhost:${handle.port}$path")).GET().build()
      warmToPlateau(warmBudgetMsPerShape)(() =>
        concurrently(WarmPar) { client.send(req, HttpResponse.BodyHandlers.ofString()) })
    }
    // the warmup's synthetic bursts rode the live listener and were
    // counted like traffic — zero the metrics so the first scrape after
    // startup reflects served requests only (the reference's middleware
    // never sees anything but real clients)
    handle.metrics.reset()
    handle
  }

  /** Run `burst` until its latency stops improving or `budgetMs` runs
    * out; returns the number of bursts run. One warm call is not enough
    * (the round-7 fresh-session gate miss): under FAIR and concurrent
    * clients, AQE plans the same query from concurrent-path runtime
    * sizes and can pick physical plans whose codegen then compiles on
    * the first real request, and C2 keeps compiling long after codegen
    * is warm (measured round 8: 6-8 s outliers on the heaviest shapes).
    * So it takes at least 3 bursts — a 2-burst plateau can read
    * "stable" while C2 is still landing — and then stops at the first
    * burst that is no more than 23% faster than the best seen: light
    * shapes exit after 3 bursts, heavy ones keep driving the JIT.
    * `clock` (nanoseconds) times both the bursts and the budget.
    */
  private[graft] def warmToPlateau(budgetMs: Long,
      clock: () => Long = () => System.nanoTime())(burst: () => Unit): Int = {
    val t0 = clock()
    var best = Double.MaxValue
    var bursts = 0
    var stable = false
    while (!stable && (clock() - t0) / 1e6 < budgetMs) {
      val b0 = clock()
      burst()
      val burstMs = (clock() - b0) / 1e6
      bursts += 1
      stable = bursts >= 3 && burstMs >= best * 0.77
      if (burstMs < best) best = burstMs
    }
    bursts
  }

  /** Run `call` on `par` threads at once and wait for all of them. A
    * failed call is dropped: warm-up traffic has no caller to report to.
    */
  private def concurrently(par: Int)(call: => Any): Unit = {
    val threads = (0 until par).map(_ => new Thread(() => {
      try { call; () } catch { case NonFatal(_) => () }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** The eight endpoint shapes as URL paths, parameterized from the
    * corpus itself (fixture-probe queries, run once at startup).
    */
  def httpShapes(spark: SparkSession, dir: String): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    val pulse = graft.model.Domain.servedPulses(spark, dir)
      .agg(min("pulse_number")).collect().head.getLong(0)
    val drop = graft.model.Domain.servedJetDrops(spark, dir)
      .orderBy("pulse_number", "jet_id").select("jet_id", "pulse_number").head()
    // the root jet's storage form is "" but its API form is "*"
    // (jetDropIdString) — a raw "" would 400/404 every drop-shape request
    val (jet, dropPulse) =
      (if (drop.getString(0).isEmpty) "*" else drop.getString(0), drop.getLong(1))
    val obj = graft.model.Domain.servedRecords(spark, dir)
      .filter(col("type") === "state").groupBy("object_reference").count()
      .orderBy(desc("count")).head().getLong(0)
    Seq(
      "http_pulses"       -> "/api/v1/pulses?limit=20",
      "http_pulse_point"  -> s"/api/v1/pulses/$pulse",
      "http_drops_by_pulse" -> s"/api/v1/pulses/$dropPulse/jet-drops",
      "http_drop_point"   -> s"/api/v1/jet-drops/$jet:$dropPulse",
      "http_drop_records" -> s"/api/v1/jet-drops/$jet:$dropPulse/records",
      "http_drops_by_jet" -> s"/api/v1/jets/$jet/jet-drops?limit=100",
      "http_lifeline"     -> s"/api/v1/lifeline/$obj/records",
      "http_search"       -> s"/api/v1/search?value=$pulse")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val port = Sessions.envLong("SPARK_GRAFT_HTTP_PORT", 8080L, max = Sessions.MaxPort).toInt
    val spark = Sessions.serviceBuilder(Sessions.cpus(), "graft-api", Some(sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val handle = bootstrap(spark, sfDir, port)
    println(s"""{"metric":"serving","port":${handle.port},"sf":"$sfDir"}""")
    sys.addShutdownHook { handle.stop(); spark.stop() }
    Thread.currentThread.join() // serve until killed
  }
}
