package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The production server's startup path (`Serve.bootstrap` — what
  * `Serve.main` runs short of blocking). HttpApiSpec proves the routes;
  * this proves the BINARY's boot sequence: spines ensured, plans
  * plateau-warmed, listener bound, HTTP stack warmed — and that a
  * bootstrapped server actually serves every probe shape. The reduced
  * warm budget drives the identical code path at spec speed.
  */
class ServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("Serve.bootstrap brings up a serving endpoint stack end to end") {
    val handle = Serve.bootstrap(spark, dir, port = 0, warmBudgetMsPerShape = 120L)
    try {
      val client = HttpClient.newHttpClient()
      // bootstrap's HTTP warmup hammered the listener, but the metrics it
      // leaves behind must be ZERO: /metrics after startup reports served
      // traffic only, like the reference's middleware
      val scrape0 = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${handle.port}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(scrape0.statusCode() == 200)
      assert(!scrape0.body().contains("gbe_api_requests_total{"),
        s"warmup bursts must not be counted as requests: ${scrape0.body().take(300)}")
      // every shape the HTTP warm-up drives serves 200 with a body
      Serve.httpShapes(spark, dir).foreach { case (name, path) =>
        val resp = client.send(
          HttpRequest.newBuilder(
            URI.create(s"http://localhost:${handle.port}$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200, s"$name -> ${resp.statusCode()}: ${resp.body().take(200)}")
        assert(resp.body().nonEmpty, name)
      }
    } finally handle.stop()
  }

  test("a stopped handle releases the port; bootstrap can rebind it") {
    val first = Serve.bootstrap(spark, dir, port = 0, warmBudgetMsPerShape = 60L)
    val port = first.port
    first.stop()
    // rebinding the SAME fixed port proves stop() fully released it —
    // the restart story a long-lived deployment depends on. Lingering
    // TIME_WAIT sockets from the first handle's own warm connections can
    // hold the port briefly; a bounded retry separates that OS-level
    // transient from a genuine leak.
    val deadline = System.nanoTime() + 5_000_000_000L
    def rebind(): graft.api.HttpApi.Handle =
      try Serve.bootstrap(spark, dir, port = port, warmBudgetMsPerShape = 60L)
      catch {
        case e: java.net.BindException if System.nanoTime() < deadline =>
          Thread.sleep(250); rebind()
      }
    val second = rebind()
    try assert(second.port == port)
    finally second.stop()
  }
}
