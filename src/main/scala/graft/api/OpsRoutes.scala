package graft.api

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The ops-mux routes every graft listener exposes — one implementation
  * shared by the serving API ([[HttpApi.start]]) and the ingest daemon's
  * ops listener ([[graft.Ingest.opsListener]]), so the liveness and
  * metrics semantics cannot drift between the two processes (the
  * reference mounts the same `/healthcheck` + instrumentation mux in
  * both its API and ETL binaries, `api/pprof_router.go:17-21`).
  */
object OpsRoutes {

  /** Write a full response and close the exchange, swallowing I/O errors
    * (a probe or scraper disconnecting mid-body is routine and must not
    * surface; the exchange must close either way or aborted requests
    * accumulate leaked connections). Only I/O failures are SILENT: any
    * other non-fatal failure (a bug in response assembly) would
    * otherwise be invisible forever, so it leaves one stderr line —
    * same style as the ingest daemon's shutdown-flush trace — before
    * being contained.
    */
  def answer(ex: HttpExchange, status: Int, contentType: String, body: String): Unit = {
    try {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } catch {
      case _: java.io.IOException => () // routine client disconnect
      case NonFatal(e) =>
        System.err.println(s"[ops] response write for ${ex.getRequestURI} failed: $e")
    }
    finally ex.close()
  }

  /** Constant liveness route (`api/pprof_router.go:17`): text/plain 200
    * "OK", no Spark touch — a deploy probe must answer even while the
    * session is busy. Exact path only: the JDK server matches contexts
    * by string PREFIX, so without the guard `/healthchecks` or
    * `/healthcheck/x` would read as a healthy liveness signal (the
    * reference's ServeMux pattern is exact; like it, any method answers).
    */
  def healthcheck(server: HttpServer): Unit = {
    server.createContext("/healthcheck", (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath != "/healthcheck")
        answer(ex, 404, "application/json", "{}")
      else answer(ex, 200, "text/plain", "OK"))
    ()
  }

  /** Prometheus text exposition of whatever gauge/counter text `render`
    * produces at scrape time. A throwing `render` (a serialization bug
    * in a gauge collector) answers 500 with a stderr trace instead of
    * escaping into the JDK dispatcher, which would drop the connection
    * with no response and no log.
    */
  def metrics(server: HttpServer)(render: () => String): Unit = {
    server.createContext("/metrics", (ex: HttpExchange) =>
      (try Right(render()) catch { case NonFatal(e) => Left(e) }) match {
        case Right(body) => answer(ex, 200, "text/plain; version=0.0.4", body)
        case Left(e) =>
          System.err.println(s"[ops] metrics render failed: $e")
          answer(ex, 500, "text/plain", "metrics render failed\n")
      })
    ()
  }
}
