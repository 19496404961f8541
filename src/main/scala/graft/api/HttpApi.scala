package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Codecs

/** The reference's HTTP frame (`cmd/api/main.go`, generated echo router)
  * over the [[Endpoints]] functions, on the JDK's built-in
  * `com.sun.net.httpserver` — zero dependencies beyond the JDK.
  *
  * Eight GET routes under `/api/v1` (paths from `api/handlers_test.go`):
  *
  *   /pulses                         /pulses/{pulse}
  *   /pulses/{pulse}/jet-drops       /jet-drops/{jet_drop_id}
  *   /jet-drops/{jet_drop_id}/records
  *   /jets/{jet_id}/jet-drops        /lifeline/{object_ref}/records
  *   /search?value=
  *
  * Contract mirrored from `api/handlers.go`:
  *  - list endpoints return `{"total": N, "result": [...]}`
  *  - point lookups return the bare object, 404 `{}` when absent
  *  - invalid params return 400 with the CodeValidationError shape
  *    (`code`, `message`, `validation_failures:[{failure_reason,
  *    property}]`), failures ACCUMULATED across params like
  *    `checkLimitOffset` — one response names every bad param
  *  - limit defaults 20, range [1,1000]; offset defaults 0, non-negative
  *
  * Concurrency: a fixed pool sized like the reference's load suite's
  * attacker count; each request submits independent Spark jobs, so FAIR
  * scheduling in the session keeps one heavy page from starving point
  * lookups.
  *
  * Serialization is driver-side string building over the ≤1000-row page
  * (validation bounds it) — the API boundary, not a distributed op. The
  * query itself stays a Catalyst plan end to end; `.collect()` happens
  * here and nowhere deeper.
  */
object HttpApi {

  private val JetIdPattern = "^(\\*|[01]{1,216})$".r
  private val InvalidParamsMessage = "Invalid query or path parameters"

  final class Handle private[HttpApi] (server: HttpServer,
      pool: java.util.concurrent.ExecutorService,
      dispatch: java.util.concurrent.ExecutorService, val metrics: ApiMetrics) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = {
      server.stop(0); pool.shutdownNow(); dispatch.shutdownNow(); ()
    }
  }

  /** Bind and start. `port=0` picks an ephemeral port (tests). The
    * Prometheus text endpoint rides the same listener at `/metrics`
    * (the reference starts it as its metrics HTTP server,
    * `cmd/api/main.go:66-76`; one port here — no second listener in
    * the sandbox).
    *
    * Two executors, deliberately: the server DISPATCHES on a cached pool
    * that only ever runs cheap work (the ops routes, and handing an API
    * exchange to the worker pool), while the Spark-bound API handlers run
    * on the bounded `poolSize` pool. With one shared pool, `poolSize`
    * concurrent multi-second page scans would queue the liveness probe
    * behind them and an orchestrator would restart the service exactly at
    * peak load — the opposite of OpsRoutes' "must answer even while the
    * session is busy" contract.
    */
  def start(spark: SparkSession, dir: String, port: Int = 0, poolSize: Int = 8): Handle = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val dispatch = Executors.newCachedThreadPool()
    val pool = Executors.newFixedThreadPool(poolSize)
    server.setExecutor(dispatch)
    val metrics = new ApiMetrics // per-listener registry (see its doc)
    server.createContext("/api/v1", { (ex: HttpExchange) =>
      // hand off and return: the exchange stays open until the worker
      // closes it (answer() always does); a rejected hand-off (stop() in
      // flight) still answers rather than leaking the exchange
      try pool.execute(() => handle(spark, dir, metrics, ex))
      catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          OpsRoutes.answer(ex, 503, "application/json", "{}")
      }
    })
    // the shared ops mux (liveness + metrics), one implementation with
    // the ingest daemon's listener — see [[OpsRoutes]]; runs directly on
    // the dispatch pool, so it answers regardless of API saturation
    OpsRoutes.healthcheck(server)
    OpsRoutes.metrics(server)(() => metrics.render())
    server.start()
    new Handle(server, pool, dispatch, metrics)
  }

  // ---- routing ---------------------------------------------------------

  private def handle(spark: SparkSession, dir: String, metrics: ApiMetrics,
      ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    import scala.util.control.NonFatal
    val (status, body) =
      try route(spark, dir, ex)
      catch {
        // fatal VM errors (OutOfMemoryError & co) PROPAGATE: converting
        // them to a routine 500 would keep serving on a heap in
        // undefined state
        case e if NonFatal(e) =>
          System.err.println(s"[http] ${ex.getRequestURI} failed: ${e.getMessage}")
          (500, "{}")
      }
    metrics.record(routeTemplate(ex), status, System.nanoTime() - t0)
    // the shared write path: a client aborting mid-response is routine
    // and must not throw out of the handler into the JDK dispatcher
    OpsRoutes.answer(ex, status, "application/json", body)
  }

  /** The route TEMPLATE a request matched (path params masked), the
    * per-route metric label echo-prometheus derives the same way —
    * bounded cardinality regardless of what clients request.
    */
  private def routeTemplate(ex: HttpExchange): String = {
    val segs = ex.getRequestURI.getPath.stripPrefix("/api/v1").split("/")
      .filter(_.nonEmpty).toList
    segs match {
      case "pulses" :: Nil                      => "/api/v1/pulses"
      case "pulses" :: _ :: Nil                 => "/api/v1/pulses/:pulse"
      case "pulses" :: _ :: "jet-drops" :: Nil  => "/api/v1/pulses/:pulse/jet-drops"
      case "jet-drops" :: _ :: Nil              => "/api/v1/jet-drops/:id"
      case "jet-drops" :: _ :: "records" :: Nil => "/api/v1/jet-drops/:id/records"
      case "jets" :: _ :: "jet-drops" :: Nil    => "/api/v1/jets/:jet/jet-drops"
      case "lifeline" :: _ :: "records" :: Nil  => "/api/v1/lifeline/:ref/records"
      case "search" :: Nil                      => "/api/v1/search"
      case _                                    => "unmatched"
    }
  }

  private def route(spark: SparkSession, dir: String, ex: HttpExchange): (Int, String) = {
    if (ex.getRequestMethod != "GET") return (405, "{}")
    // URI.getPath is ALREADY percent-decoded — a second URLDecoder pass
    // would double-decode %25-escapes, turn literal '+' into a space,
    // and throw (→ 500) on a once-decoded value containing a stray '%'.
    // The query side below decodes from getRawQuery, which is raw.
    val segs = ex.getRequestURI.getPath.stripPrefix("/api/v1").split("/")
      .filter(_.nonEmpty).toList
    val q = parseQuery(Option(ex.getRequestURI.getRawQuery))
    segs match {
      case "pulses" :: Nil                       => pulsesList(spark, dir, q)
      case "pulses" :: p :: Nil                  => pulsePoint(spark, dir, p)
      case "pulses" :: p :: "jet-drops" :: Nil   => dropsByPulse(spark, dir, p, q)
      case "jet-drops" :: id :: Nil              => dropPoint(spark, dir, id)
      case "jet-drops" :: id :: "records" :: Nil => dropRecords(spark, dir, id, q)
      case "jets" :: jet :: "jet-drops" :: Nil   => dropsByJet(spark, dir, jet, q)
      case "lifeline" :: ref :: "records" :: Nil => lifeline(spark, dir, ref, q)
      case "search" :: Nil                       => search(spark, dir, q)
      case _                                     => (404, "{}")
    }
  }

  /** Percent-decode leniently: a malformed escape (a lone trailing '%',
    * `%zz`) keeps the RAW text instead of throwing — the value then fails
    * the endpoint's own validation as a typed 400, where a propagated
    * IllegalArgumentException would surface as a 500 any client could
    * trigger at will (the reference's binding layer answers 400 here).
    */
  private def decodeLenient(s: String): String =
    try URLDecoder.decode(s, "UTF-8")
    catch { case _: IllegalArgumentException => s }

  private def parseQuery(raw: Option[String]): Map[String, String] =
    raw.fold(Map.empty[String, String]) {
      _.split("&").filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => decodeLenient(k) -> decodeLenient(v)
          case Array(k)    => decodeLenient(k) -> ""
        }
        // FIRST occurrence wins on a duplicated param — the reference's
        // binding layer reads url.Values.Get (the first value), while a
        // plain toMap would keep the LAST and diverge on adversarial
        // ?limit=20&limit=9999 inputs
      }.distinctBy(_._1).toMap
    }

  // ---- param validation (api/handlers.go:677-703) ----------------------

  private type Failures = List[(String, String)] // (property, failure_reason)

  /** checkLimitOffset (handlers.go:677-703): failures accumulate in
    * limit-then-offset order. Non-integer values fail the reference's
    * binding layer; surfaced here as "should be integer" failures.
    */
  private def limitOffset(q: Map[String, String]): (Int, Int, Failures) = {
    var failures: Failures = Nil
    // exactly ONE failure per bad param: a non-integer fails the
    // reference's BINDING layer, so checkLimitOffset's range check never
    // sees it — the integer failure must not also trip the range check
    val limit = q.get("limit").map(_.toIntOption) match {
      case None => 20
      case Some(None) => failures :+= (("limit", "should be integer")); 20
      case Some(Some(v)) =>
        if (v <= 0 || v > 1000) failures :+= (("limit", "should be in range [1, 1000]"))
        v
    }
    val offset = q.get("offset").map(_.toIntOption) match {
      case None => 0
      case Some(None) => failures :+= (("offset", "should be integer")); 0
      case Some(Some(v)) =>
        if (v < 0) failures :+= (("offset", "should not be negative"))
        v
    }
    (limit, offset, failures)
  }

  /** Pulse-number query param: integer and a valid pulse
    * (`pulse.IsValidAsPulseNumber` via `getPulseNumberValue`,
    * `api/handlers.go:299-308` — failure reason "invalid value"). A
    * non-integer value fails the reference at the generated binding
    * layer; we surface it as an accumulated failure instead of a
    * short-circuit, same property name.
    */
  private def pulseParam(q: Map[String, String], name: String): (Option[Long], Failures) =
    q.get(name) match {
      case None => (None, Nil)
      case Some(s) => s.toLongOption match {
        case Some(v) if Search.isValidPulse(v) => (Some(v), Nil)
        case Some(_) => (None, List((name, "invalid value")))
        case None => (None, List((name, "should be integer")))
      }
    }

  private def longParam(q: Map[String, String], name: String): (Option[Long], Failures) =
    q.get(name) match {
      case None => (None, Nil)
      case Some(s) => s.toLongOption match {
        case Some(v) => (Some(v), Nil)
        case None => (None, List((name, "should be integer")))
      }
    }

  /** `sort_by` validation. The reference's reason string differs per
    * endpoint: the shared helpers prefix "query parameter 'sort_by' "
    * and name asc first (`checkSortByPulseParameter` /
    * `checkSortByPulseNumberParameter`, handlers.go:705-747) while
    * ObjectLifeline's inline check names desc first with no prefix
    * (handlers.go:566-576) — so the caller supplies the full reason.
    */
  private def sortParam(q: Map[String, String], ascValue: String,
      descValue: String, reason: String): (Boolean, Failures) =
    q.get("sort_by") match {
      case None => (false, Nil)
      case Some(s) if s == ascValue => (true, Nil)
      case Some(s) if s == descValue => (false, Nil)
      case Some(_) => (false, List(("sort_by", reason)))
    }

  /** CodeValidationError frame. `code` is "Bad Request" (http.StatusText)
    * on most endpoints but the literal "400" (strconv.Itoa) on
    * JetDropByID and JetDropsByPulseNumber (handlers.go:49,428); the
    * message rides `"message"` everywhere except the Search branch,
    * which populates `"description"` instead (handlers.go:484-532).
    */
  private def badRequest(failures: Failures, code: String = "Bad Request",
      field: String = "message"): (Int, String) = {
    val fs = failures.map { case (prop, reason) =>
      s"""{"failure_reason":${JsonOut.str(reason)},"property":${JsonOut.str(prop)}}"""
    }.mkString("[", ",", "]")
    (400, s"""{"code":${JsonOut.str(code)},"$field":"$InvalidParamsMessage","validation_failures":$fs}""")
  }

  /** Lifeline path refs: the domain's numeric object ids directly, or a
    * full base58 insolar reference (classified exactly like
    * [[Endpoints.search]], keyed per layout by `Domain.refToKey`). The decoded
    * reference must be the full 36-byte layout (the shape
    * `Search.classifyReference` requires and the reference's
    * `checkReference` rejects with 400 'wrong format'): a short base58
    * string decodes to fewer bytes and must not silently query an
    * arbitrary id.
    */
  private def parseObjectRef(spark: SparkSession, dir: String,
      s: String): Option[Long] = {
    // untrimmed: the reference parses the raw path param, so a
    // whitespace-padded ref is a 400, not a silently-normalized lookup
    if (s.isEmpty) None
    else s.toLongOption.orElse(
      Codecs.parseReference(s).filter(_.length == 36)
        .map(graft.model.Domain.refToKey(spark, dir, _)))
  }

  /** The `total` carried by a collected page (0 for an empty page). */
  private def totalOf(rows: Array[Row]): Long =
    if (rows.nonEmpty && rows.head.schema.fieldNames.contains("total"))
      rows.head.getAs[Long]("total")
    else rows.length.toLong

  /** `{total, result}` with the reference's empty-page contract: the
    * count runs over the same filtered query regardless of the page
    * (`etl/storage/storage.go:229-255`), so an offset past the last row
    * returns the TRUE total with an empty result — not `{"total":0}`.
    * ONE mechanism across every offset-capable list endpoint: pages are
    * built with [[graft.operators.Pagination.pageWithTotalCarried]],
    * which carries the count on EVERY row including the empty-page
    * sentinel (marker false, excluded from the rendered rows), so the
    * out-of-range corner costs the same single pass as an in-range page.
    * The marker-less branch serves the limit-only by-jet-id endpoint,
    * where an empty page can only mean a zero total.
    */
  private def envelope(rows: Array[Row]): String = {
    val marker = graft.operators.Pagination.PageRowMarker
    if (rows.nonEmpty && rows.head.schema.fieldNames.contains(marker))
      JsonOut.pageEnvelope(rows.filter(_.getAs[Boolean](marker)), totalOf(rows))
    else JsonOut.pageEnvelope(rows, totalOf(rows))
  }

  // ---- handlers --------------------------------------------------------

  private def pulsesList(spark: SparkSession, dir: String, q: Map[String, String]): (Int, String) = {
    val (limit, offset, f1) = limitOffset(q)
    // from_pulse_number's invalid-pulse failure is reported under the
    // property "pulse" with reason "invalid" (handlers.go:318-327), NOT
    // under its own name like the lt/gt/lte/gte bounds
    val (fromPulse, f2) = q.get("from_pulse_number") match {
      case None => (None, Nil)
      case Some(s) => s.toLongOption match {
        case Some(v) if Search.isValidPulse(v) => (Some(v), Nil)
        case Some(_) => (None, List(("pulse", "invalid")))
        case None => (None, List(("from_pulse_number", "should be integer")))
      }
    }
    // reference check order: gt, gte, lt, lte (handlers.go:330-342)
    val (pnGt, f3) = pulseParam(q, "pulse_number_gt")
    val (pnGte, f4) = pulseParam(q, "pulse_number_gte")
    val (pnLt, f5) = pulseParam(q, "pulse_number_lt")
    val (pnLte, f6) = pulseParam(q, "pulse_number_lte")
    val (asc, f7) = sortParam(q, "pulse_number_asc", "pulse_number_desc",
      "query parameter 'sort_by' should be 'pulse_number_asc' or 'pulse_number_desc'")
    val (tsLte, f8) = longParam(q, "timestamp_lte")
    val (tsGte, f9) = longParam(q, "timestamp_gte")
    val failures = f1 ++ f2 ++ f3 ++ f4 ++ f5 ++ f6 ++ f7 ++ f8 ++ f9
    if (failures.nonEmpty) return badRequest(failures)
    // strict bounds ride the inclusive predicate builders: pulse numbers
    // are integral, so lt v == lte v-1 (filterByPulseNumber, storage.go)
    val lte = Seq(fromPulse, pnLte, pnLt.map(_ - 1)).flatten.reduceOption(_ min _)
    val gte = Seq(pnGte, pnGt.map(_ + 1)).flatten.reduceOption(_ max _)
    val page = presentPulses(Endpoints.pulses(spark, dir,
      Endpoints.PageParams(limit, offset),
      fromPulse = gte, toPulse = lte, fromTimestamp = tsGte, toTimestamp = tsLte, asc = asc))
    (200, envelope(page.collect()))
  }

  private def pulsePoint(spark: SparkSession, dir: String, p: String): (Int, String) =
    p.toLongOption match {
      case None => badRequest(List(("pulse", "should be integer")))
      case Some(pn) =>
        val rows = presentPulses(Endpoints.pulse(spark, dir, pn)).collect()
        if (rows.isEmpty) (404, "{}") else (200, JsonOut.obj(rows.head))
    }

  /** JetDropsByPulseNumber (handlers.go:404-440). Check order: limit/
    * offset, pulse validity ("pulse"/"invalid"), from_jet_drop_id
    * ("jet drop id"/"invalid"); this endpoint's error `code` is the
    * literal "400" (strconv.Itoa, handlers.go:426-431), not the
    * status text.
    */
  private def dropsByPulse(spark: SparkSession, dir: String, p: String,
      q: Map[String, String]): (Int, String) = {
    var (limit, offset, failures) = limitOffset(q)
    val pulseNum = p.toLongOption
    pulseNum match {
      case Some(pn) if Search.isValidPulse(pn) => ()
      case Some(_) => failures :+= (("pulse", "invalid"))
      case None => failures :+= (("pulse", "should be integer"))
    }
    // an unparseable cursor is a 400 ('jet drop id: invalid',
    // api/handlers.go:416-425), never a silently-uncursored page
    val fromJet = q.get("from_jet_drop_id").map { s =>
      Codecs.parseJetDropId(s) match {
        case Some((jet, _)) => jet
        case None => failures :+= (("jet drop id", "invalid")); ""
      }
    }
    if (failures.nonEmpty) return badRequest(failures, code = "400")
    val pn = pulseNum.get
    val page = presentEmptyLinks(Endpoints.jetDropsByPulse(spark, dir, pn,
      fromJetId = fromJet, page = Endpoints.PageParams(limit, offset)))
    (200, envelope(page.collect()))
  }

  /** JetDropByID (handlers.go:45-58): a malformed id fails with reason
    * `errors.Wrapf(NewJetDropIDFromString's "wrong jet drop id format",
    * "invalid")` and the literal "400" code.
    */
  private def dropPoint(spark: SparkSession, dir: String, id: String): (Int, String) =
    Endpoints.jetDropById(spark, dir, id) match {
      case None =>
        badRequest(List(("jet drop id", "invalid: wrong jet drop id format")), code = "400")
      case Some(df) =>
        val rows = df.collect()
        if (rows.isEmpty) (404, "{}") else (200, JsonOut.obj(rows.head))
    }

  private def dropRecords(spark: SparkSession, dir: String, id: String,
      q: Map[String, String]): (Int, String) = {
    // validate EVERYTHING first (accumulated like checkLimitOffset), then
    // build — no clamped params ever reach the query builder. Check order
    // mirrors JetDropRecords (handlers.go:83-120): limit/offset,
    // jet_drop_id, from_index, type
    var (limit, offset, failures) = limitOffset(q)
    if (Codecs.parseJetDropId(id).isEmpty)
      failures :+= (("jet_drop_id", "invalid"))
    val fromIndex = q.get("from_index")
    if (fromIndex.exists(Codecs.parseIndex(_).isEmpty))
      failures :+= (("from_index", "invalid"))
    val recordType = q.get("type")
    if (recordType.exists(t => !Set("request", "result", "state").contains(t)))
      failures :+= (("type", "should be 'request', 'state' or 'result'"))
    if (failures.nonEmpty) return badRequest(failures)
    val page = withIndex(Endpoints.jetDropRecords(spark, dir, id, fromIndex,
      Endpoints.PageParams(limit, offset), recordType).get)
    (200, envelope(page.collect()))
  }

  private def dropsByJet(spark: SparkSession, dir: String, jet: String,
      q: Map[String, String]): (Int, String) = {
    // JetDropsByJetID passes nil for offset (handlers.go:151:
    // `checkLimitOffset(params.Limit, nil)`) — the offset query param is
    // IGNORED on this endpoint, never validated, never applied
    val (parsedLimit, _, f1) = limitOffset(q - "offset")
    // an absent limit means 1000 here, not the global default of 20
    // (handlers.go:153-156, the PENV-505 fixme the reference ships with)
    val limit = if (q.contains("limit")) parsedLimit else 1000
    // check order (handlers.go:149-184): limit, jet id, sort_by, then
    // pulse bounds gt, gte, lt, lte
    // the RAW path param, untrimmed: the reference's checkJetID regexp
    // rejects whitespace-padded values with 400; trimming here would
    // serve a 200 page the reference refuses
    val jetFail: Failures =
      if (JetIdPattern.matches(jet)) Nil
      else if (jet.isEmpty)
        // checkJetID stacks BOTH failures for an empty value: the empty
        // check and the regexp mismatch (handlers.go:749-776)
        List(("jet-id path parameter", "empty value of path parameter"),
          ("jet-id path parameter", "parameter does not match with jetID valid value"))
      else List(("jet-id path parameter", "parameter does not match with jetID valid value"))
    val (asc, f2) = sortParam(q, "pulse_number_asc_jet_id_desc", "pulse_number_desc_jet_id_asc",
      "query parameter 'sort_by' should be 'pulse_number_asc_jet_id_desc' or 'pulse_number_desc_jet_id_asc'")
    val (pnGt, f3) = pulseParam(q, "pulse_number_gt")
    val (pnGte, f4) = pulseParam(q, "pulse_number_gte")
    val (pnLt, f5) = pulseParam(q, "pulse_number_lt")
    val (pnLte, f6) = pulseParam(q, "pulse_number_lte")
    val failures = f1 ++ jetFail ++ f2 ++ f3 ++ f4 ++ f5 ++ f6
    if (failures.nonEmpty) return badRequest(failures)
    // "*" is the root jet: every drop is in its subtree (empty prefix)
    val prefix = if (jet == "*") "" else jet
    // strict bounds fold into the inclusive builders: integral pulses, so
    // lt v == lte v-1 (same as pulsesList / storage.go filterByPulseNumber)
    val lte = Seq(pnLte, pnLt.map(_ - 1)).flatten.reduceOption(_ min _)
    val gte = Seq(pnGte, pnGt.map(_ + 1)).flatten.reduceOption(_ max _)
    val rows = presentDropLinks(Endpoints.jetDropsByJetId(spark, dir, prefix,
      fromPulse = gte, toPulse = lte, pulseAsc = asc, limit = limit)).collect()
    // limit-only endpoint (no offset): an empty page means the filter
    // matched nothing, so the page's own total is already the truth
    (200, JsonOut.pageEnvelope(rows, totalOf(rows)))
  }

  private def lifeline(spark: SparkSession, dir: String, ref: String,
      q: Map[String, String]): (Int, String) = {
    // ObjectLifeline check order (handlers.go:556-605): limit/offset,
    // object_reference, sort_by, from_index, pulse_number_gt,
    // pulse_number_lt; the timestamp params carry no handler-level
    // validation there (binding-layer analogs appended last here)
    val (limit, offset, f1) = limitOffset(q)
    val objectRef = parseObjectRef(spark, dir, ref)
    val f2: Failures = if (objectRef.isEmpty) List(("object_reference", "wrong format")) else Nil
    val (asc, f3) = sortParam(q, "index_asc", "index_desc",
      "should be 'index_desc' or 'index_asc'")
    val fromIndex = q.get("from_index")
    val f4: Failures =
      if (fromIndex.exists(Codecs.parseIndex(_).isEmpty)) List(("from_index", "invalid")) else Nil
    val (pnGt, f5) = pulseParam(q, "pulse_number_gt")
    val (pnLt, f6) = pulseParam(q, "pulse_number_lt")
    val (tsLte, f7) = longParam(q, "timestamp_lte")
    val (tsGte, f8) = longParam(q, "timestamp_gte")
    val failures = f1 ++ f2 ++ f3 ++ f4 ++ f5 ++ f6 ++ f7 ++ f8
    if (failures.nonEmpty) return badRequest(failures)
    val page = withIndex(Endpoints.objectLifeline(spark, dir, objectRef.get, asc = asc,
      fromIndex = fromIndex, fromPulse = pnGt.map(_ + 1), toPulse = pnLt.map(_ - 1),
      fromTimestamp = tsGte, toTimestamp = tsLte,
      page = Endpoints.PageParams(limit, offset)))
    (200, envelope(page.collect()))
  }

  /** Search answers with a typed redirect hint (`{type, meta}`), not the
    * data page — `api/handlers.go:458-553`. Only the record branch touches
    * storage (the reference includes the record's index in the hint).
    * The Search branch's validation errors ride the `description` field
    * (handlers.go:484-532), unlike every other endpoint's `message`; a
    * MISSING `value` param never reaches the handler at all — the
    * generated binding layer rejects it with echo's `{"message"}` shape.
    */
  private def search(spark: SparkSession, dir: String, q: Map[String, String]): (Int, String) =
    q.get("value") match {
      case None =>
        (400, """{"message":"Query argument value is required, but not found"}""")
      case Some(value) => Search.dispatch(value) match {
        case Search.PulseTarget(p) =>
          (200, s"""{"type":"pulse","meta":{"pulse_number":$p}}""")
        case Search.InvalidPulse(_) =>
          // an integer that is not a valid pulse number is its own 400
          // (searchResponsePulse, handlers.go:494-506)
          badRequest(List(("value", "not valid pulse number")), field = "description")
        case Search.JetDropTarget(_, _) =>
          (200, s"""{"type":"jet-drop","meta":{"jet_drop_id":${JsonOut.str(value)}}}""")
        case Search.LifelineTarget(_) =>
          (200, s"""{"type":"lifeline","meta":{"object_reference":${JsonOut.str(value)}}}""")
        case Search.RecordTarget(ref) =>
          // the value is already classified — go straight to the point
          // lookup instead of re-dispatching inside Endpoints.search
          val rows = Endpoints.recordByRef(spark, dir, ref).collect()
          if (rows.isEmpty)
            badRequest(List(("value", "record reference not found")), field = "description")
          else {
            val r = rows.head
            val idx = s"${r.getAs[Long]("pulse_number")}:${r.getAs[Int]("order")}"
            // omitempty: getAs[Long] on a NULL unboxes to 0 — a phantom
            // object key a client would then query; omit the field like
            // every other null at the JSON edge (JsonOut.obj)
            val objRef =
              if (r.isNullAt(r.fieldIndex("object_reference"))) ""
              else s""","object_reference":"${r.getAs[Long]("object_reference")}""""
            (200, s"""{"type":"record","meta":{"index":${JsonOut.str(idx)}$objRef}}""")
          }
        case Search.NoMatch =>
          badRequest(List(("value", "is neither pulse number, jet drop id nor reference")),
            field = "description")
      }
    }

  /** Records pages in the API shape (`RecordToAPI`, `api/mappers.go:
    * 19-55`): the `index` string ("pulse:order" — the `from_index`
    * cursor token), the containing `jet_drop_id`, and the reference's
    * field name `timestamp`; the raw `order`/`ts_sec` columns are
    * internal and never served (the index carries the order). The
    * domain's own payload analogs (event_type, value) stay.
    */
  private def withIndex(df: DataFrame): DataFrame = df
    .withColumn("index", Codecs.indexString(col("pulse_number"), col("order")))
    .withColumn("jet_drop_id", Codecs.jetDropIdString(col("jet_id"), col("pulse_number")))
    .withColumnRenamed("ts_sec", "timestamp")
    .drop("order")

  /** HTTP presentation of pulse rows: the `-1` unknown-link sentinel the
    * storage layer (and our oracle-checked DataFrame contract) carries is
    * an UNSET pointer in the API body — `PulseToAPI` only assigns
    * prev/next when != -1 (`api/mappers.go:57-74`), and `omitempty` drops
    * the field. Nulling here lets the omitempty-aware writer do exactly
    * that, without touching the -1 contract underneath.
    */
  /** HTTP presentation of jet-drop link lists: the comma-joined sorted
    * `jet_drop_id` strings the oracle-checked layer carries
    * (`JetLinkage.hashLinkIds`) become arrays of NextPrevJetDrop objects
    * `{jet_drop_id, jet_id, pulse_number}` (`transformPrevNextResp`,
    * `api/handlers.go:785-792`) under the API's field names. Pure column
    * algebra over the ≤1000-row page.
    */
  private def presentDropLinks(df: DataFrame): DataFrame =
    if (!df.columns.contains("prev_ids")) df
    else {
      def links(c: org.apache.spark.sql.Column) = transform(
        filter(split(c, ","), x => length(x) > 0),
        id => struct(
          id.as("jet_drop_id"),
          regexp_extract(id, "^(.*):", 1).as("jet_id"),
          regexp_extract(id, "([+-]?\\d+)$", 1).cast("long").as("pulse_number")))
      df.withColumn("prev_jet_drop_id", links(col("prev_ids")))
        .withColumn("next_jet_drop_id", links(col("next_ids")))
        .drop("prev_ids", "next_ids")
    }

  /** JetDropsByPulseNumber renders every drop with EMPTY link arrays —
    * the reference passes `[]server.NextPrevJetDrop{}` for both sides
    * (`api/handlers.go:446-449`).
    */
  private def presentEmptyLinks(df: DataFrame): DataFrame = df
    .withColumn("prev_jet_drop_id", lit(Array.empty[String]))
    .withColumn("next_jet_drop_id", lit(Array.empty[String]))

  private def presentPulses(df: DataFrame): DataFrame = df
    .withColumn("prev_pulse_number",
      when(col("prev_pulse_number") === -1L, lit(null).cast("long"))
        .otherwise(col("prev_pulse_number")))
    .withColumn("next_pulse_number",
      when(col("next_pulse_number") === -1L, lit(null).cast("long"))
        .otherwise(col("next_pulse_number")))
    // PulseToAPI serves exactly {pulse_number, prev/next, is_complete,
    // jet_drop_amount, record_amount, timestamp}; the sequential flag and
    // per-type counters are storage-internal (api/mappers.go:57-74)
    .drop("is_sequential", "result_amount")
}

/** Minimal JSON rendering for the bounded API pages. The served views
  * produce only scalars, strings, and string/long arrays (binary columns
  * are base64'd to strings by [[Mappers]] before this layer), so a
  * hand-rolled writer is complete — and deterministic, which the spec
  * relies on.
  */
object JsonOut {

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => renderDouble(n.toDouble)
    case n: Double => renderDouble(n)
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => str(java.util.Base64.getEncoder.encodeToString(b))
    case seq: scala.collection.Seq[_] => seq.map(value).mkString("[", ",", "]")
    case arr: Array[_] => arr.map(value).mkString("[", ",", "]")
    case r: Row => obj(r)
    case other => str(other.toString)
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** One row as a JSON object, fields in schema order, `total` skipped
    * (it belongs to the envelope, not the row). Null-valued fields are
    * OMITTED, not rendered as JSON null — the reference's generated
    * models mark optional fields `omitempty`, so an unset pointer (an
    * empty record reference, `api/mappers.go:32-47`; a `-1` pulse link,
    * `api/mappers.go:57-74`) vanishes from the body.
    */
  def obj(row: Row): String =
    row.schema.fields.iterator.zipWithIndex
      .filter { case (f, i) =>
        f.name != "total" && f.name != graft.operators.Pagination.PageRowMarker &&
          !row.isNullAt(i) }
      .map { case (f, i) => s"${str(f.name)}:${value(row.get(i))}" }
      .mkString("{", ",", "}")

  /** `{total, result}` — total is the count of the FILTERED set (A3),
    * supplied by the handler (which knows how to recover it when the
    * page itself is empty — see `HttpApi.envelope`).
    */
  def pageEnvelope(rows: Array[Row], total: Long): String =
    rows.iterator.map(obj).mkString(s"""{"total":$total,"result":[""", ",", "]}")
}
