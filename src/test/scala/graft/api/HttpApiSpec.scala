package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Domain

/** End-to-end tests of the HTTP frame: a live [[HttpApi]] server on an
  * ephemeral port over the sf0.001 testdata, driven through a real HTTP
  * client — the analog of the reference's live-server handler tests
  * (`api/handlers_test.go:42-80` and the `test/api/` endpoint suites).
  *
  * Coverage contract: every route in `HttpApi.route` gets at least one
  * happy-path assertion (body checked against the [[Endpoints]] result
  * rendered through the same [[JsonOut]] writer — the HTTP layer must add
  * nothing but the frame) and the reference's error contract: accumulated
  * `validation_failures` across bad params, 404-`{}` point lookups, and
  * the empty-page `{total}` rule (the count runs over the filtered query
  * regardless of the page, `etl/storage/storage.go:229-255`).
  */
class HttpApiSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val handle = HttpApi.start(spark, dir, port = 0, poolSize = 4)
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    try handle.stop() finally super.afterAll()
  }

  private def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${handle.port}/api/v1$path")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def totalIn(body: String): Long =
    """"total":(-?\d+)""".r.findFirstMatchIn(body)
      .getOrElse(fail(s"no total in: ${body.take(200)}")).group(1).toLong

  /** Rows in the `result` array: top-level objects only (jet-drop rows
    * nest NextPrevJetDrop link objects, which must not count).
    */
  private def resultRows(body: String): Int = {
    val i = body.indexOf(""""result":[""")
    assert(i >= 0, s"no result array in: ${body.take(200)}")
    var depth = 0; var rows = 0; var inStr = false; var esc = false
    body.substring(i + """"result":[""".length).foreach { c =>
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1; if (depth == 1) rows += 1
        case '}' => depth -= 1
        case _ => ()
      }
    }
    rows
  }

  private def failureProps(body: String): Set[String] =
    """"property":"([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSet

  // fixture probes, derived from the data (drift-proof, never hardcoded)
  private lazy val somePulse: Long =
    Domain.servedPulses(spark, dir).agg(min("pulse_number")).collect().head.getLong(0)
  private lazy val pulseCount: Long = Domain.servedPulses(spark, dir).count()
  private lazy val someDrop: (String, Long) = {
    val r = Domain.servedJetDrops(spark, dir)
      .orderBy("pulse_number", "jet_id").select("jet_id", "pulse_number").head()
    (r.getString(0), r.getLong(1))
  }
  private lazy val recordedDrop: (String, Long) = {
    val r = Domain.servedRecords(spark, dir)
      .groupBy("jet_id", "pulse_number").count()
      .orderBy(desc("count")).head()
    (r.getString(0), r.getLong(1))
  }
  private lazy val someObject: Long =
    Domain.servedRecords(spark, dir).filter(col("type") === "state")
      .groupBy("object_reference").count().orderBy(desc("count"))
      .head().getLong(0)

  // ---- /pulses ---------------------------------------------------------

  /** The HTTP layer's pulse presentation: -1 link sentinels become null
    * (then omitted by the omitempty-aware writer), like PulseToAPI's
    * conditional assignment (`api/mappers.go:57-74`).
    */
  private def present(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("prev_pulse_number",
      when(col("prev_pulse_number") === -1L, lit(null).cast("long"))
        .otherwise(col("prev_pulse_number")))
    .withColumn("next_pulse_number",
      when(col("next_pulse_number") === -1L, lit(null).cast("long"))
        .otherwise(col("next_pulse_number")))
    .drop("is_sequential", "result_amount")

  test("GET /pulses: body is exactly the Endpoints page through JsonOut") {
    val (status, body) = get("/pulses?limit=3")
    assert(status == 200)
    val rows = present(Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 3))).collect()
    assert(body == JsonOut.pageEnvelope(rows, rows.head.getAs[Long]("total")))
    assert(resultRows(body) == 3)
    assert(totalIn(body) == pulseCount)
  }

  test("GET /pulses: unknown -1 link sentinels are OMITTED from the body, not rendered") {
    // PulseToAPI only assigns prev/next when != -1 and omitempty drops
    // the unset field (api/mappers.go:66-73); the stored sentinel must
    // never leak into the HTTP body
    val (status, body) = get(s"/pulses/$somePulse") // the corpus's oldest pulse
    assert(status == 200)
    assert(!body.contains(""""prev_pulse_number""""),
      "the oldest pulse has no predecessor: the field must be absent")
    assert(!body.contains("-1"))
    val (s2, b2) = get("/pulses?limit=1000")
    assert(s2 == 200)
    assert(!b2.contains(":-1"), "no -1 sentinel anywhere in a full pulses page")
  }

  test("GET /pulses: range + sort params reach the query") {
    val (status, body) = get(s"/pulses?from_pulse_number=$somePulse" +
      s"&pulse_number_lte=${somePulse + 5}&sort_by=pulse_number_asc&limit=100")
    assert(status == 200)
    // the regex cannot match prev_/next_pulse_number (those are preceded
    // by "prev_"/"next_", not a quote), so every match is a row's OWN
    // pulse — the bound is EXACT, no link slack
    val pns = """"pulse_number":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    assert(pns.nonEmpty)
    assert(pns.min >= somePulse && pns.max <= somePulse + 5,
      "page must stay inside the requested range exactly")
  }

  test("GET /pulses: offset past the end returns the TRUE total, empty result") {
    val (status, body) = get("/pulses?offset=100000")
    assert(status == 200)
    assert(resultRows(body) == 0)
    assert(totalIn(body) == pulseCount,
      "the count runs over the filtered query regardless of the page (storage.go:229-255)")
  }

  test("GET /pulses: validation failures accumulate across params") {
    val (status, body) = get("/pulses?limit=5000&offset=-2&sort_by=bogus&from_pulse_number=abc")
    assert(status == 400)
    assert(body.contains(""""code":"Bad Request""""))
    assert(failureProps(body) == Set("limit", "offset", "sort_by", "from_pulse_number"),
      "one response must name every bad param, like checkLimitOffset")
  }

  test("GET /pulses: a non-integer limit/offset yields exactly ONE failure each") {
    // the reference's binding layer rejects the non-integer before
    // checkLimitOffset's range check ever runs — the integer failure must
    // not ALSO trip "should be in range" on the unparsed value
    val (status, body) = get("/pulses?limit=abc&offset=xyz")
    assert(status == 400)
    assert(failureProps(body) == Set("limit", "offset"))
    assert(""""property":"limit"""".r.findAllIn(body).size == 1,
      s"one failure for the one bad limit param: $body")
    assert(""""property":"offset"""".r.findAllIn(body).size == 1,
      s"one failure for the one bad offset param: $body")
    assert(!body.contains("should be in range") && !body.contains("should not be negative"),
      s"the range check must not see the unparsed sentinel: $body")
  }

  test("GET /pulses and /jets/*/jet-drops: page bodies arrive in endpoint sort order") {
    // the page order is part of the HTTP contract (storage.go ORDER BY);
    // it must hold by construction (pageWithTotal's final sort), not by
    // the accident of a broadcast join preserving stream order
    def rowPulses(body: String): Seq[Long] =
      """\{"pulse_number":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    val (s1, b1) = get("/pulses?limit=50")
    assert(s1 == 200)
    val pulsesOrder = rowPulses(b1)
    assert(pulsesOrder.length > 2 && pulsesOrder == pulsesOrder.sorted.reverse,
      s"default pulses order is newest-first: $pulsesOrder")
    val (s2, b2) = get("/jets/*/jet-drops?limit=100")
    assert(s2 == 200)
    // drop ROW objects read "pulse_number":N,"hash" (the link structs
    // inside prev/next arrays end in pulse_number + "}" instead)
    val dropOrder = """"pulse_number":(\d+),"hash"""".r
      .findAllMatchIn(b2).map(_.group(1).toLong).toSeq
    assert(dropOrder.length > 2 && dropOrder == dropOrder.sorted.reverse,
      s"default by-jet-id order is pulse_number_desc: $dropOrder")
  }

  // ---- /pulses/{pulse} -------------------------------------------------

  test("GET /pulses/{pulse}: 200 bare object, 404 {}, 400 non-integer") {
    val (s1, b1) = get(s"/pulses/$somePulse")
    assert(s1 == 200)
    assert(b1.contains(s""""pulse_number":$somePulse"""))
    assert(!b1.contains(""""total""""), "point lookups return the bare object, no envelope")
    val (s2, b2) = get("/pulses/999999999")
    assert(s2 == 404 && b2 == "{}")
    val (s3, _) = get("/pulses/abc")
    assert(s3 == 400)
  }

  // ---- /pulses/{pulse}/jet-drops --------------------------------------

  test("GET /pulses/{pulse}/jet-drops: page matches Endpoints; bad cursor is 400") {
    val (jet, pn) = someDrop
    val (status, body) = get(s"/pulses/$pn/jet-drops")
    assert(status == 200)
    val rows = Endpoints.jetDropsByPulse(spark, dir, pn)
      .withColumn("prev_jet_drop_id", lit(Array.empty[String]))
      .withColumn("next_jet_drop_id", lit(Array.empty[String]))
      .collect()
    assert(body == JsonOut.pageEnvelope(rows, rows.head.getAs[Long]("total")))
    assert(body.contains(s""""jet_drop_id":"$jet:$pn""""))
    // JetDropsByPulseNumber renders EMPTY link arrays on every drop
    // (api/handlers.go:446-449), present but never populated
    assert(body.contains(""""prev_jet_drop_id":[]"""))
    assert(body.contains(""""next_jet_drop_id":[]"""))
    // unparseable from_jet_drop_id: 400 'jet drop id: invalid'
    // (handlers.go:416-425), never a silently-uncursored page
    val (s2, b2) = get(s"/pulses/$pn/jet-drops?from_jet_drop_id=zzz")
    assert(s2 == 400)
    assert(failureProps(b2) == Set("jet drop id"))
    assert(b2.contains(""""failure_reason":"invalid""""))
  }

  // ---- /jet-drops/{id} -------------------------------------------------

  test("GET /jet-drops/*:{pulse} paths: the star root-jet id is shape-VALID") {
    // genesis jet drops are addressed "*:<pulse>" (models.go:115-125, the
    // root jet's empty prefix rendered "*"; test/api
    // TestGetJetDropsByID_genesisJetDropsAsStarValue): the star must
    // parse as the root jet — an absent drop is a 404, never a 400
    val (s1, b1) = get("/jet-drops/*:999999999")
    assert(s1 == 404 && b1 == "{}",
      s"star id must parse (absent drop -> 404 {}), got $s1 $b1")
    // same id shape on the records route: parses, serves the empty page
    val (s2, b2) = get("/jet-drops/*:999999999/records")
    assert(s2 == 200 && totalIn(b2) == 0 && resultRows(b2) == 0,
      s"star drop-records must parse and serve the envelope, got $s2 $b2")
  }

  test("GET /jet-drops/{id}: 200 bare object, 404 {} on absent, 400 on malformed") {
    val (jet, pn) = someDrop
    val (s1, b1) = get(s"/jet-drops/$jet:$pn")
    assert(s1 == 200)
    assert(b1.contains(s""""jet_drop_id":"$jet:$pn"""") && !b1.contains(""""total""""))
    val (s2, b2) = get(s"/jet-drops/$jet:999999999")
    assert(s2 == 404 && b2 == "{}")
    val (s3, _) = get("/jet-drops/garbage")
    assert(s3 == 400)
  }

  // ---- /jet-drops/{id}/records ----------------------------------------

  test("GET /jet-drops/{id}/records: page with index column; offset past end keeps the true total") {
    val (jet, pn) = recordedDrop
    val (status, body) = get(s"/jet-drops/$jet:$pn/records?limit=2")
    assert(status == 200)
    val total = totalIn(body)
    assert(total > 0 && resultRows(body) <= 2)
    assert(body.contains(s""""index":"$pn:"""),
      "records pages carry the API index string (api/mappers.go)")
    val (s2, b2) = get(s"/jet-drops/$jet:$pn/records?offset=5000")
    assert(s2 == 200)
    assert(resultRows(b2) == 0 && totalIn(b2) == total,
      "empty page at high offset must keep the filtered count")
  }

  test("GET /jet-drops/{id}/records: failures accumulate incl. the bad drop id") {
    val (status, body) = get("/jet-drops/garbage/records?type=bogus&from_index=xx&limit=0")
    assert(status == 400)
    assert(failureProps(body) == Set("jet_drop_id", "type", "from_index", "limit"))
  }

  // ---- /jets/{jet}/jet-drops ------------------------------------------

  test("GET /jets/*/jet-drops: absent limit defaults to 1000, not 20") {
    val (status, body) = get("/jets/*/jet-drops")
    assert(status == 200)
    val dropCount = Domain.servedJetDrops(spark, dir).count()
    assert(totalIn(body) == dropCount)
    assert(resultRows(body) == math.min(dropCount, 1000L).toInt,
      "handlers.go:153-156 (PENV-505): unparameterized requests page 1000 rows")
    assert(resultRows(body) > 20, "the global default of 20 must NOT apply here")
  }

  test("GET /jets/{jet}/jet-drops: strict pulse bounds pulse_number_lt/gt are honored") {
    val lo = somePulse + 1
    val hi = somePulse + 10
    val (status, body) = get(s"/jets/*/jet-drops?pulse_number_gt=$lo&pulse_number_lt=$hi")
    assert(status == 200)
    val expected = Endpoints.jetDropsByJetId(spark, dir, "",
      fromPulse = Some(lo + 1), toPulse = Some(hi - 1)).collect()
    assert(totalIn(body) == expected.head.getAs[Long]("total"))
    val pns = """"pulse_number":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    assert(pns.nonEmpty && pns.forall(p => p > lo && p < hi),
      "lt/gt are STRICT bounds (handlers.go:166-182)")
  }

  test("GET /jets/{jet}/jet-drops: bad jet id is 400") {
    val (s1, b1) = get("/jets/xyz/jet-drops")
    assert(s1 == 400)
    assert(failureProps(b1) == Set("jet-id path parameter"))
    val (s2, _) = get("/jets/01/jet-drops")
    assert(s2 == 200, "binary jet prefixes are valid")
  }

  // ---- /lifeline/{ref}/records ----------------------------------------

  test("GET /lifeline/{ref}/records: page matches Endpoints; offset past end keeps total") {
    val (status, body) = get(s"/lifeline/$someObject/records?limit=5")
    assert(status == 200)
    val total = totalIn(body)
    assert(total > 0 && resultRows(body) == math.min(total, 5L).toInt)
    assert(body.contains(s""""object_reference":$someObject"""))
    val (s2, b2) = get(s"/lifeline/$someObject/records?offset=100000")
    assert(s2 == 200)
    assert(resultRows(b2) == 0 && totalIn(b2) == total)
  }

  test("GET /lifeline/{ref}/records: short base58 ref is 400 wrong format") {
    // "1z" decodes to a single byte — not the 36-byte reference layout;
    // the reference's checkReference rejects it, never a 500 or a silent
    // query of an arbitrary id
    val (status, body) = get("/lifeline/1z/records")
    assert(status == 400)
    assert(failureProps(body) == Set("object_reference"))
    assert(body.contains("wrong format"))
  }

  // ---- /search ---------------------------------------------------------

  test("GET /search: pulse hint, empty 400, garbage 400") {
    val (s1, b1) = get(s"/search?value=$somePulse")
    assert(s1 == 200)
    assert(b1 == s"""{"type":"pulse","meta":{"pulse_number":$somePulse}}""")
    val (s2, _) = get("/search")
    assert(s2 == 400)
    val (s3, b3) = get("/search?value=%20%21%3F")
    assert(s3 == 400)
    assert(failureProps(b3) == Set("value"))
    // a whitespace-padded pulse is NOT a pulse (strconv.ParseInt
    // tolerates none) — it falls through every branch to 'is neither'
    val (s4, b4) = get(s"/search?value=%20$somePulse")
    assert(s4 == 400)
    assert(b4.contains("is neither pulse number, jet drop id nor reference"))
  }

  test("GET /search: jet drop id hint") {
    val (jet, pn) = someDrop
    val (status, body) = get(s"/search?value=$jet:$pn")
    assert(status == 200)
    assert(body == s"""{"type":"jet-drop","meta":{"jet_drop_id":"$jet:$pn"}}""")
  }

  // ---- handlers_test.go case parity -----------------------------------

  test("GET /pulses: timestamp range bounds the page (TestPulses_TimestampRange)") {
    val ts = Domain.servedPulses(spark, dir)
      .orderBy("pulse_number").select("timestamp").collect().map(_.getLong(0))
    val (lo, hi) = (ts(1), ts(math.min(5, ts.length - 1)))
    val (status, body) = get(s"/pulses?timestamp_gte=$lo&timestamp_lte=$hi&limit=100")
    assert(status == 200)
    val served = """"timestamp":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    assert(served.nonEmpty && served.forall(t => t >= lo && t <= hi))
  }

  test("GET /pulses: pulse_number_gt/gte/lt/lte are honored (TestPulses_PulseNumberFilters)") {
    val pns = Domain.servedPulses(spark, dir)
      .orderBy("pulse_number").select("pulse_number").collect().map(_.getLong(0))
    val (a, b) = (pns(1), pns(math.min(8, pns.length - 1)))
    val (s1, b1) = get(s"/pulses?pulse_number_gt=$a&pulse_number_lt=$b&limit=1000")
    assert(s1 == 200)
    val served = """"pulse_number":(\d+)""".r.findAllMatchIn(b1).map(_.group(1).toLong).toSeq
    // first pulse_number per row is the row's own; prev/next may sit ±1 outside
    assert(served.nonEmpty)
    assert(totalIn(b1) == pns.count(p => p > a && p < b).toLong,
      "gt/lt are strict; the total counts exactly the open interval")
    val (s2, b2) = get(s"/pulses?pulse_number_gte=$a&pulse_number_lte=$b&limit=1000")
    assert(s2 == 200)
    assert(totalIn(b2) == pns.count(p => p >= a && p <= b).toLong,
      "gte/lte are inclusive")
  }

  test("GET /lifeline: sort_by=index_asc flips the order; timestamp range filters (lifeline suites)") {
    val (s1, b1) = get(s"/lifeline/$someObject/records?sort_by=index_asc&limit=50")
    val (s2, b2) = get(s"/lifeline/$someObject/records?sort_by=index_desc&limit=50")
    assert(s1 == 200 && s2 == 200)
    def indexes(b: String) = """"index":"(\d+):(\d+)"""".r.findAllMatchIn(b)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    val (asc, desc) = (indexes(b1), indexes(b2))
    assert(asc.nonEmpty && asc == asc.sorted, "index_asc pages ascend")
    assert(desc.nonEmpty && desc == desc.sorted.reverse, "index_desc pages descend")
    // timestamp bounds reach the query (TestObjectLifeline_TimestampRange)
    val tsAll = Domain.servedRecords(spark, dir)
      .filter(col("object_reference") === someObject && col("type") === "state")
      .select("ts_sec").collect().map(_.getLong(0)).sorted
    val (tLo, tHi) = (tsAll.head, tsAll(tsAll.length / 2))
    val (s3, b3) = get(s"/lifeline/$someObject/records?timestamp_gte=$tLo&timestamp_lte=$tHi&limit=1000")
    assert(s3 == 200)
    assert(totalIn(b3) == tsAll.count(t => t >= tLo && t <= tHi).toLong)
  }

  test("GET /lifeline: a valid but unknown object serves {total:0,result:[]} (TestObjectLifeline_NoRecords)") {
    val (status, body) = get("/lifeline/987654321/records")
    assert(status == 200)
    assert(body == """{"total":0,"result":[]}""")
  }

  test("GET /search: object reference resolves to a lifeline hint echoing the value (TestSearch_Object)") {
    import graft.functions.Codecs
    val bytes = Array.fill[Byte](4)(0) ++ Array.fill[Byte](24)(0) ++
      java.nio.ByteBuffer.allocate(8).putLong(someObject).array()
    val ref = Codecs.referenceToString(bytes)
    val (status, body) = get(s"/search?value=${java.net.URLEncoder.encode(ref, "UTF-8")}")
    assert(status == 200)
    assert(body == s"""{"type":"lifeline","meta":{"object_reference":"$ref"}}""")
  }

  test("GET /pulses/{pulse}: int64-overflowing path is the binding layer's 400 (TestPulse_Pulse_GreaterThanMax)") {
    val (status, _) = get("/pulses/92233720368547758071")
    assert(status == 400)
  }

  // ---- fine-grained handlers.go conformance ---------------------------

  private def failureReasons(body: String): Seq[String] =
    """"failure_reason":"([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq

  test("GET /pulses: integer-but-invalid from_pulse_number fails as ('pulse','invalid')") {
    // handlers.go:318-327 — the property is "pulse", not the param name
    val (status, body) = get("/pulses?from_pulse_number=65535")
    assert(status == 400)
    assert(failureProps(body) == Set("pulse"))
    assert(failureReasons(body) == Seq("invalid"))
    // above MaxTimePulse (2^30 - 1) is equally invalid
    val (s2, b2) = get(s"/pulses?from_pulse_number=${1L << 30}")
    assert(s2 == 400 && failureProps(b2) == Set("pulse"))
  }

  test("GET /pulses: failures keep checkLimitOffset-first order; sort reason is the shared helper's") {
    val (status, body) = get("/pulses?sort_by=bogus&limit=0")
    assert(status == 400)
    assert(failureReasons(body) == Seq(
      "should be in range [1, 1000]",
      "query parameter 'sort_by' should be 'pulse_number_asc' or 'pulse_number_desc'"),
      "limit/offset failures come first (handlers.go:313), and the sort reason " +
        "carries the checkSortByPulseNumberParameter prefix, asc named first")
  }

  test("GET /pulses/{pulse}/jet-drops: error code is the literal '400', invalid pulse is ('pulse','invalid')") {
    // handlers.go:426-431 — this endpoint's code is strconv.Itoa(400),
    // not http.StatusText's "Bad Request"
    val (s1, b1) = get("/pulses/65535/jet-drops")
    assert(s1 == 400)
    assert(b1.contains(""""code":"400""""))
    assert(failureProps(b1) == Set("pulse"))
    assert(failureReasons(b1) == Seq("invalid"))
    val (jet @ _, pn) = someDrop
    val (s2, b2) = get(s"/pulses/$pn/jet-drops?from_jet_drop_id=zzz")
    assert(s2 == 400 && b2.contains(""""code":"400""""))
  }

  test("GET /jet-drops/{id}: malformed id reason is the wrapped parse error, code '400'") {
    // handlers.go:49-56 — errors.Wrapf(err, "invalid") over
    // NewJetDropIDFromString's "wrong jet drop id format"
    val (status, body) = get("/jet-drops/garbage")
    assert(status == 400)
    assert(body.contains(""""code":"400""""))
    assert(failureReasons(body) == Seq("invalid: wrong jet drop id format"))
  }

  test("GET /jet-drops/{id}/records: type reason names request, state, result in that order") {
    val (jet, pn) = recordedDrop
    val (status, body) = get(s"/jet-drops/$jet:$pn/records?type=bogus")
    assert(status == 400)
    assert(failureReasons(body) == Seq("should be 'request', 'state' or 'result'"),
      "handlers.go:110 — 'request', 'state' or 'result'")
  }

  test("GET /jets/{jet}/jet-drops: offset is ignored, never validated (checkLimitOffset(limit, nil))") {
    // handlers.go:151 passes nil for offset — a negative offset that
    // would 400 on any other list endpoint is silently ignored here
    val (status, body) = get("/jets/*/jet-drops?offset=-5&limit=3")
    assert(status == 200)
    assert(resultRows(body) == 3)
  }

  test("GET /jets/{jet}/jet-drops: jet regexp failure reason matches checkJetID") {
    val (status, body) = get("/jets/xyz/jet-drops")
    assert(status == 400)
    assert(failureReasons(body) == Seq("parameter does not match with jetID valid value"))
    val (s2, b2) = get("/jets/01/jet-drops?sort_by=bogus")
    assert(s2 == 400)
    assert(failureReasons(b2) == Seq("query parameter 'sort_by' should be " +
      "'pulse_number_asc_jet_id_desc' or 'pulse_number_desc_jet_id_asc'"))
  }

  test("GET /search: errors ride 'description', not 'message'; invalid integer is 'not valid pulse number'") {
    // handlers.go:484-532 — the Search branch populates Description where
    // every other endpoint populates Message
    val (s1, b1) = get("/search?value=65535")
    assert(s1 == 400)
    assert(b1.contains(""""description":"""") && !b1.contains(""""message":""""))
    assert(failureReasons(b1) == Seq("not valid pulse number"))
    val (s2, b2) = get("/search?value=-7")
    assert(s2 == 400 && failureReasons(b2) == Seq("not valid pulse number"))
    val (s3, b3) = get("/search?value=%21%3F")
    assert(s3 == 400)
    assert(b3.contains(""""description":""""))
    assert(failureReasons(b3) == Seq("is neither pulse number, jet drop id nor reference"))
  }

  test("GET /search: jet drop id with an out-of-range pulse still resolves (no validity bound)") {
    // NewJetDropIDFromString puts no bound on the pulse part
    // (models.go:94-113), so '1010:5' is a jet-drop hint, not a 400
    val (status, body) = get("/search?value=1010%3A5")
    assert(status == 200)
    assert(body == """{"type":"jet-drop","meta":{"jet_drop_id":"1010:5"}}""")
  }

  test("HTTP bodies serve the API field set, not storage internals") {
    // PulseToAPI (api/mappers.go:57-74) serves no is_sequential or
    // result_amount; RecordToAPI (19-55) serves jet_drop_id + timestamp
    // and no raw order/ts_sec (the index string carries the order)
    val (s1, b1) = get("/pulses?limit=2")
    assert(s1 == 200)
    assert(!b1.contains(""""is_sequential"""") && !b1.contains(""""result_amount""""))
    val (jet, pn) = recordedDrop
    val (s2, b2) = get(s"/jet-drops/$jet:$pn/records?limit=2")
    assert(s2 == 200)
    assert(b2.contains(s""""jet_drop_id":"$jet:$pn""""))
    assert(b2.contains(""""timestamp":"""))
    assert(!b2.contains(""""order":""") && !b2.contains(""""ts_sec":"""))
    val (s3, b3) = get(s"/lifeline/$someObject/records?limit=2")
    assert(s3 == 200)
    assert(b3.contains(""""jet_drop_id":""") && !b3.contains(""""ts_sec":"""))
  }

  test("GET /jet-drops/{id}: sibling-scoped prev/next link arrays (GetJetDropByID semantics)") {
    // the point lookup links by PULSE ADJACENCY + the jet sibling set
    // {self, self0, self1, parent} (storage.go:496-531), not by hashes;
    // pick a drop on a middle pulse so at least one side is populated
    val mid = Domain.servedJetDrops(spark, dir)
      .groupBy("pulse_number").count().orderBy("pulse_number")
      .collect().map(_.getLong(0))
    assert(mid.length >= 3, "fixture needs 3+ pulses")
    val r = Domain.servedJetDrops(spark, dir)
      .filter(col("pulse_number") === mid(1)).orderBy("jet_id").head()
    val (jet, pn) = (r.getString(r.fieldIndex("jet_id")), r.getLong(r.fieldIndex("pulse_number")))
    val (status, body) = get(s"/jet-drops/${if (jet.isEmpty) "*" else jet}:$pn")
    assert(status == 200)
    assert(body.contains(""""prev_jet_drop_id":[""") && body.contains(""""next_jet_drop_id":["""))
    // every link element carries the NextPrevJetDrop shape
    val linkObjs = """\{"jet_drop_id":"[^"]+","jet_id":"[^"]+","pulse_number":\d+\}""".r
      .findAllIn(body).toSeq
    // a MIDDLE pulse with sibling jets in its chain neighbors must link:
    // requiring nonEmpty (not an equivalence that an all-empty regression
    // would satisfy vacuously) is the point of picking mid(1)
    assert(linkObjs.nonEmpty,
      s"a middle-pulse drop must populate at least one link side: ${body.take(400)}")
    val arrays = body.substring(body.indexOf("prev_jet_drop_id"))
    assert(arrays.contains("""[{"""),
      s"link arrays must hold NextPrevJetDrop objects: ${body.take(400)}")
  }

  test("GET /jets/{jet}/jet-drops: hash-linked prev/next render as NextPrevJetDrop arrays") {
    val (status, body) = get("/jets/*/jet-drops?limit=50")
    assert(status == 200)
    assert(body.contains(""""prev_jet_drop_id":""") && body.contains(""""next_jet_drop_id":"""))
    assert(!body.contains(""""prev_ids""""), "the internal comma-joined form must not leak")
    // at least one drop in a 50-row page links to a parent (the fixture
    // has split/merge drops); its element is a full object
    assert(""""(?:prev|next)_jet_drop_id":\[\{"jet_drop_id":"[^"]+","jet_id":"[^"]+","pulse_number":\d+\}""".r
      .findFirstIn(body).nonEmpty, s"expected at least one populated link array: ${body.take(300)}")
  }

  test("GET /search: record reference branch hits storage and returns index + object_reference") {
    // the only search branch that touches storage (handlers.go:516-552):
    // the hint carries the record's "pulse:order" index and its object
    // reference; an unknown record ref is 400 'record reference not found'
    import graft.functions.Codecs
    val r = Domain.servedRecords(spark, dir)
      .select("reference", "pulse_number", "order", "object_reference")
      .orderBy("pulse_number", "order").head()
    val (ref, pn, ord, obj) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))
    // a record-scoped 36-byte reference embedding the numeric id in the
    // low 8 bytes (the domain adaptation Search/Endpoints use)
    def refString(id: Long): String = {
      val bytes = Array[Byte](0, 1, 0, 0) ++ Array.fill[Byte](24)(0) ++
        java.nio.ByteBuffer.allocate(8).putLong(id).array()
      Codecs.referenceToString(bytes)
    }
    val (status, body) = get(s"/search?value=${refString(ref)}")
    assert(status == 200, body.take(200))
    assert(body == s"""{"type":"record","meta":{"index":"$pn:$ord","object_reference":"$obj"}}""")
    // unknown record id → the reference's storage-miss 400
    val (s2, b2) = get(s"/search?value=${refString(-987654321L)}")
    assert(s2 == 400)
    assert(failureReasons(b2) == Seq("record reference not found"))
    assert(b2.contains(""""description":""""))
  }

  test("GET /search without value: the binding layer's echo-style message shape") {
    val (status, body) = get("/search")
    assert(status == 400)
    assert(body == """{"message":"Query argument value is required, but not found"}""")
  }

  // ---- frame -----------------------------------------------------------

  test("Serve.httpShapes: every probe URL serves 200 on this corpus") {
    // Serve.bootstrap warms the HTTP stack through these exact paths; a
    // shape that 404s or 400s would warm nothing (warm-up drops failed
    // calls) — pin them against the live server here
    graft.Serve.httpShapes(spark, dir).foreach { case (name, path) =>
      val (status, body) = get(path.stripPrefix("/api/v1"))
      assert(status == 200, s"$name -> $path returned $status: ${body.take(120)}")
      assert(body.nonEmpty)
    }
  }

  test("fuzz: hostile params and paths never surface a 500") {
    // the reference's handlers answer every malformed input with a typed
    // 400/404, never an unhandled panic (checkReference, checkJetID,
    // NewJetDropIDFromString all total) — pin the same totality here with
    // a deterministic hostile corpus over every route template
    val rnd = new scala.util.Random(20260814L)
    val hostile = Seq("", "-1", "0", "1z", "%2e%2e%2f..%2f", "null", "NaN",
      "999999999999999999999999", "insolar:1", "insolar:1zz", "*", "0101",
      ":::", "0:0:0", "a" * 300, "%00", "+5", " 70000 ", " x", "%ff",
      "11" * 120, "70000.5", "-9223372036854775808")
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val templates: Seq[String => String] = Seq(
      v => s"/pulses?limit=${enc(v)}",
      v => s"/pulses?from_pulse_number=${enc(v)}&offset=${enc(v)}",
      v => s"/pulses/${enc(v)}",
      v => s"/pulses/${enc(v)}/jet-drops?from_jet_drop_id=${enc(v)}",
      v => s"/jet-drops/${enc(v)}",
      v => s"/jet-drops/${enc(v)}/records?type=${enc(v)}&from_index=${enc(v)}",
      v => s"/jets/${enc(v)}/jet-drops?sort_by=${enc(v)}&pulse_number_gt=${enc(v)}",
      v => s"/lifeline/${enc(v)}/records?sort_by=${enc(v)}&limit=${enc(v)}",
      v => s"/search?value=${enc(v)}")
    val probes = for (t <- templates; v <- hostile ++ Seq.fill(5)(rnd.nextString(8))) yield t(v)
    probes.foreach { path =>
      val (status, body) = get(path)
      assert(Set(200, 400, 404).contains(status),
        s"$path -> $status: ${body.take(200)}")
    }
  }

  test("path segments are percent-decoded exactly ONCE: double-encoded and " +
      "stray-percent values answer typed errors, never 500") {
    // URI.getPath already decodes; a second URLDecoder pass would turn
    // %2541 into 'A' (double decode), '+' into a space, and throw on a
    // once-decoded stray '%' (surfacing as a 500)
    val cases = Seq(
      "/pulses/70000%2541",  // once-decoded literal "70000%41" — not "70000A"
      "/pulses/100%25",      // once-decoded "100%" — stray % must not throw
      "/pulses/7%2Bd",       // once-decoded "7+d" — '+' stays a plus
      "/jet-drops/0%253A70000/records") // "0%3A70000", not "0:70000"
    cases.foreach { path =>
      val (status, body) = get(path)
      assert(Set(400, 404).contains(status), s"$path -> $status: ${body.take(200)}")
    }
    // query side: a malformed escape (a lone trailing '%' — real clients
    // produce these over raw sockets; java.net.URI can't even build such
    // a URL, hence the socket probe) must answer 4xx, never a thrown 500.
    // The JDK server rejects the malformed request-URI itself with 400;
    // parseQuery's lenient decode is the defense if that layer changes.
    def rawStatus(pathAndQuery: String): Int = {
      val s = new java.net.Socket("localhost", handle.port)
      try {
        s.getOutputStream.write(
          (s"GET $pathAndQuery HTTP/1.1\r\nHost: localhost\r\n" +
            "Connection: close\r\n\r\n").getBytes("US-ASCII"))
        s.getOutputStream.flush()
        val line = new java.io.BufferedReader(
          new java.io.InputStreamReader(s.getInputStream)).readLine()
        line.split(" ")(1).toInt
      } finally s.close()
    }
    Seq("/api/v1/pulses?limit=50%", "/api/v1/search?value=50%",
      "/api/v1/pulses?limit=%zz&offset=1").foreach { pq =>
      val status = rawStatus(pq)
      assert(status >= 400 && status < 500, s"$pq -> $status")
    }
  }

  test("GET /metrics: per-route counters and latency summaries in Prometheus text format") {
    // the echo-prometheus + metrics-listener analog (cmd/api/main.go:
    // 62-76): counts per (route template, status), recent-window
    // quantiles per route, bounded label cardinality
    // the registry is PER LISTENER (ApiMetrics doc): resetting and
    // exact-count pinning here touches only this suite's server, however
    // many other suites are serving concurrently in this JVM
    handle.metrics.reset()
    get(s"/pulses/$somePulse"); get(s"/pulses/$somePulse"); get("/pulses/999999999")
    get("/pulses?limit=0") // 400
    get("/search?value=70000")
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${handle.port}/metrics")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200)
    val m = resp.body()
    assert(m.contains("""gbe_api_requests_total{route="/api/v1/pulses/:pulse",status="200"} 2"""))
    assert(m.contains("""gbe_api_requests_total{route="/api/v1/pulses/:pulse",status="404"} 1"""))
    assert(m.contains("""gbe_api_requests_total{route="/api/v1/pulses",status="400"} 1"""))
    assert(m.contains("""gbe_api_requests_total{route="/api/v1/search",status="200"} 1"""))
    assert(m.contains("""gbe_api_request_duration_seconds{route="/api/v1/pulses/:pulse",quantile="0.5"}"""))
    assert(m.contains("""gbe_api_request_duration_seconds_count{route="/api/v1/pulses/:pulse"} 3"""))
    // path params are masked into the template: no raw pulse number may
    // appear as a route label (bounded cardinality)
    assert(!m.contains(s"""route="/api/v1/pulses/$somePulse""""))
  }

  test("GET /healthcheck: constant 200 OK text/plain on the service listener") {
    // the reference's ops mux liveness route (`api/pprof_router.go:17-21`),
    // served next to /metrics — a deploy probe hits this on every rollout
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${handle.port}/healthcheck")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200)
    assert(resp.body() == "OK")
    assert(resp.headers().firstValue("Content-Type").orElse("") == "text/plain")
    // exact path only — the JDK context prefix-match must not let a
    // typo'd probe (/healthchecks, /healthcheck/x) read as healthy
    Seq("/healthchecks", "/healthcheck/x").foreach { p =>
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:${handle.port}$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 404, s"$p -> ${r.statusCode()}")
    }
  }

  test("unknown routes are 404, non-GET is 405") {
    assert(get("/nope")._1 == 404)
    assert(get("/pulses/1/extra/deep")._1 == 404)
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${handle.port}/api/v1/pulses"))
      .POST(HttpRequest.BodyPublishers.noBody()).build()
    assert(client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 405)
  }
}
