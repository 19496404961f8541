package graft.api

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{CountingFileSystem, Ingest, SparkSpec}
import graft.functions.{Codecs, JetFunctions}
import graft.gen.Fixtures
import graft.ingest.{GrpcTransport, PulseWriter, ReplayExporter, TableManifest}
import graft.model.{Domain, Rows, StoreViews}
import graft.operators.{Pagination, Predicates, PulseChain}

/** The pulse-keyed routes (`/pulses/{pulse}`, `/pulses/{pulse}/jet-drops`,
  * `/jet-drops/{id}`, `/jet-drops/{id}/records`) and `/pulses` pages with
  * no timestamp bound are row programs: over an ingest store they read the
  * partitions their keys name in the driver and run no Spark job and no
  * Dataset action; over the corpus they collect the key-filtered view
  * once. The oracle below is the Spark plan each of them ran before that,
  * presented by the Column mappers the routes used then: every body the
  * routes answer must equal, byte for byte, the body rendered from the
  * oracle's frame, on stores and on the corpus.
  */
class StoreRouteEquivalenceSpec extends SparkSpec {
  import StoreRouteEquivalenceSpec.JetDropLink

  private val start = Fixtures.GenesisPulse + Fixtures.PulseDelta
  private val delta = Fixtures.PulseDelta
  private val perPulse = 12
  private val jets = Seq("0", "10", "11", "1")

  private def pulseAt(i: Int) = start + i * delta

  private def wire(nPulses: Int) =
    Fixtures.multiPulseBatches(spark, nPulses, perPulse, jets, startPulse = start)

  /** Version B of a pulse: one record fewer and different payload bytes,
    * so both the drops page and the records page tell the versions apart.
    */
  private def versionB(w: DataFrame) =
    w.filter(col("record_number") =!= 0L)
      .withColumn("memory", concat(col("memory"), lit(Array[Byte](0x42))))

  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString

  // ---- the oracle: the Spark plans of the routes before the driver reads --

  private object Oracle {
    private def chain(dir: String) = Domain.PulseChainIndex(
      Domain.servedPulses(spark, dir).select(col("pulse_number"), col("prev_pulse_number"))
        .collect().map(r => (r.getLong(0), r.getLong(1))))

    // ---- the Column presenters the routes used before they presented rows

    def jetDropToApi(drops: DataFrame): DataFrame = {
      val links = Seq("prev_ids", "next_ids", "prev_jet_drop_id", "next_jet_drop_id",
        "total", Pagination.PageRowMarker)
        .filter(drops.columns.contains).map(col)
      drops.select(Seq(
        Codecs.jetDropIdString(col("jet_id"), col("pulse_number")).as("jet_drop_id"),
        col("jet_id"),
        col("pulse_number"),
        base64(col("hash")).as("hash"),
        col("record_amount"),
        col("timestamp")) ++ links: _*)
    }

    def withIndex(df: DataFrame): DataFrame = df
      .withColumn("index", Codecs.indexString(col("pulse_number"), col("order")))
      .withColumn("jet_drop_id", Codecs.jetDropIdString(col("jet_id"), col("pulse_number")))
      .withColumnRenamed("ts_sec", "timestamp")
      .drop("order")

    def presentEmptyLinks(df: DataFrame): DataFrame = df
      .withColumn("prev_jet_drop_id", lit(Array.empty[String]))
      .withColumn("next_jet_drop_id", lit(Array.empty[String]))

    def presentPulses(df: DataFrame): DataFrame = df
      .withColumn("prev_pulse_number",
        when(col("prev_pulse_number") === -1L, lit(null).cast("long"))
          .otherwise(col("prev_pulse_number")))
      .withColumn("next_pulse_number",
        when(col("next_pulse_number") === -1L, lit(null).cast("long"))
          .otherwise(col("next_pulse_number")))
      .drop("is_sequential", "result_amount")

    // ---- the routes' plans

    def pulse(dir: String, pulseNumber: Long): DataFrame = {
      val row = Domain.servedPulses(spark, dir).filter(col("pulse_number") === pulseNumber).limit(1)
      val c = chain(dir)
      c.storedPrev(pulseNumber) match {
        case None => row
        case Some(storedPrev) =>
          row
            .withColumn("next_pulse_number", lit(c.nextByPrev(pulseNumber).getOrElse(PulseChain.Unknown)))
            .withColumn("prev_pulse_number", lit(if (c.exists(storedPrev)) storedPrev else PulseChain.Unknown))
      }
    }

    /** The scan path: one plan cuts the page and carries the total, then
      * the page's links are repaired in the driver against the chain.
      */
    def pulses(dir: String, gte: Option[Long], lte: Option[Long], asc: Boolean,
        limit: Int, offset: Int): DataFrame = {
      val filtered = Domain.servedPulses(spark, dir)
        .filter(Predicates.range(col("pulse_number"), gte = gte, lte = lte))
      val pageSort = if (asc) col("pulse_number").asc else col("pulse_number").desc
      val pageQuery = Pagination.pageWithTotalCarried(filtered, Seq(pageSort), limit, offset)
      val (pageRows, sentinel) =
        pageQuery.collect().partition(_.getAs[Boolean](Pagination.PageRowMarker))
      val out = if (pageRows.isEmpty) sentinel else {
        val c = chain(dir)
        val sch = pageQuery.schema
        val (pnI, prevI, nextI) = (sch.fieldIndex("pulse_number"),
          sch.fieldIndex("prev_pulse_number"), sch.fieldIndex("next_pulse_number"))
        val page = pageRows.sortBy(_.getLong(pnI))
        val pn = page.map(_.getLong(pnI))
        val repaired = page.indices.toArray.map { i =>
          val vals = page(i).toSeq.toArray
          vals(prevI) =
            if (i > 0) { if (page(i).getLong(prevI) == pn(i - 1)) pn(i - 1) else PulseChain.Unknown }
            else c.storedPrev(pn(0)).filter(c.exists).getOrElse(PulseChain.Unknown)
          vals(nextI) =
            if (i < pn.length - 1) {
              if (page(i + 1).getLong(prevI) == pn(i)) pn(i + 1) else PulseChain.Unknown
            } else c.nextByPrev(pn.last).getOrElse(PulseChain.Unknown)
          Row.fromSeq(vals.toSeq)
        }
        if (asc) repaired else repaired.reverse
      }
      spark.createDataFrame(java.util.Arrays.asList(out: _*), pageQuery.schema)
    }

    def jetDropsByPulse(dir: String, pulseNumber: Long, fromJetId: Option[String],
        limit: Int, offset: Int): DataFrame = {
      val filtered = Domain.servedJetDrops(spark, dir).filter(col("pulse_number") === pulseNumber)
      val cursored = fromJetId.fold(filtered)(j => filtered.filter(col("jet_id") >= j))
      jetDropToApi(
        Pagination.pageWithTotalCarried(cursored, Seq(col("jet_id").asc), limit, offset))
    }

    def jetDrop(dir: String, jet: String, pulse: Long): DataFrame = {
      val d = Domain.servedJetDrops(spark, dir)
      val rowQuery = d.filter(col("pulse_number") === pulse && col("jet_id") === jet).limit(1)
      val rows = rowQuery.collect()
      if (rows.isEmpty)
        jetDropToApi(spark.createDataFrame(
          java.util.Collections.emptyList[Row](), rowQuery.schema))
      else {
        val c = chain(dir)
        val (prevLinks, nextLinks) = c.storedPrev(pulse) match {
          case None => (Seq.empty[JetDropLink], Seq.empty[JetDropLink])
          case Some(storedPrev) =>
            val nextPulse = c.nextByPrev(pulse).getOrElse(PulseChain.Unknown)
            val neighbors = d
              .filter((col("pulse_number") === nextPulse || col("pulse_number") === storedPrev) &&
                col("jet_id").isin(JetFunctions.jetLinkCandidates(jet): _*))
              .select(col("pulse_number"), col("jet_id")).collect()
              .map { r =>
                val (pn, j) = (r.getLong(0), r.getString(1))
                (pn, JetDropLink(s"${if (j.isEmpty) "*" else j}:$pn",
                  if (j.isEmpty) "*" else j, pn))
              }
            (neighbors.collect { case (pn, l) if pn == storedPrev => l }.sortBy(_.jet_drop_id).toSeq,
              neighbors.collect { case (pn, l) if pn == nextPulse && nextPulse != PulseChain.Unknown => l }
                .sortBy(_.jet_drop_id).toSeq)
        }
        jetDropToApi(spark.createDataFrame(java.util.Arrays.asList(rows: _*), rowQuery.schema)
          .withColumn("prev_jet_drop_id", typedLit(prevLinks))
          .withColumn("next_jet_drop_id", typedLit(nextLinks)))
      }
    }

    def jetDropRecords(dir: String, jet: String, pulse: Long, fromIndex: Option[String],
        limit: Int, offset: Int, recordType: Option[String]): DataFrame = {
      val base = Domain.servedRecords(spark, dir)
        .filter(col("pulse_number") === pulse && col("jet_id") === jet)
      val typed = recordType.fold(base)(t => base.filter(col("type") === t))
      val cursored = fromIndex.map(s => Codecs.parseIndex(s).get).fold(typed) { case (p, o) =>
        typed.filter(Predicates.keysetFrom(col("pulse_number"), col("order"), p, o, asc = true))
      }
      Pagination.pageWithTotalCarried(cursored,
        Seq(col("pulse_number").asc, col("order").asc, col("reference").asc), limit, offset)
    }

    /** The body HttpApi rendered from the oracle's frame for a VALID
      * request to one of the five routes.
      */
    def respond(dir: String, path: String, q: Map[String, String]): (Int, String) = {
      def point(df: DataFrame) = {
        val rows = df.collect()
        if (rows.isEmpty) (404, "{}") else (200, JsonOut.obj(rows.head))
      }
      def envelope(df: DataFrame) = (200, HttpApi.envelope(Rows.collect(df)))
      val limit = q.get("limit").fold(Pagination.DefaultLimit)(_.toInt)
      val offset = q.get("offset").fold(0)(_.toInt)
      path.split("/").filter(_.nonEmpty).toList match {
        case "pulses" :: Nil =>
          def pn(k: String) = q.get(k).map(_.toLong)
          val lte = Seq(pn("from_pulse_number"), pn("pulse_number_lte")).flatten.reduceOption(_ min _)
          envelope(presentPulses(pulses(dir, pn("pulse_number_gte"), lte,
            q.get("sort_by").contains("pulse_number_asc"), limit, offset)))
        case "pulses" :: p :: Nil => point(presentPulses(pulse(dir, p.toLong)))
        case "pulses" :: p :: "jet-drops" :: Nil =>
          val fromJet = q.get("from_jet_drop_id").map(s => Codecs.parseJetDropId(s).get._1)
          envelope(presentEmptyLinks(jetDropsByPulse(dir, p.toLong, fromJet, limit, offset)))
        case "jet-drops" :: id :: Nil =>
          val (jet, p) = Codecs.parseJetDropId(id).get
          point(jetDrop(dir, jet, p))
        case "jet-drops" :: id :: "records" :: Nil =>
          val (jet, p) = Codecs.parseJetDropId(id).get
          envelope(withIndex(jetDropRecords(dir, jet, p,
            q.get("from_index"), limit, offset, q.get("type"))))
        case other => fail(s"not an oracled route: $other")
      }
    }
  }

  // ---- the comparison -----------------------------------------------------

  /** Every request shape the four pulse-keyed routes take, over pulse
    * `p` whose drops are at `dropJets` (in that order, at least two):
    * point lookups of each drop and of `missingJet`'s absent one, cursors
    * at the second and last jets, and the records of the first two drops.
    */
  private def requests(p: Long, dropJets: Seq[String] = jets,
      missingJet: String = "01"): Seq[(String, Map[String, String])] = {
    val dropIds = (dropJets :+ missingJet).map(j => s"${if (j.isEmpty) "*" else j}:$p")
    Seq(s"/pulses/$p" -> Map.empty[String, String]) ++
      Seq(Map.empty[String, String], Map("limit" -> "1"), Map("limit" -> "2", "offset" -> "1"),
        Map("offset" -> "100"), Map("from_jet_drop_id" -> dropIds(1)),
        Map("from_jet_drop_id" -> dropIds(dropJets.length - 1), "limit" -> "1", "offset" -> "1"))
        .map(s"/pulses/$p/jet-drops" -> _) ++
      dropIds.map(id => s"/jet-drops/$id" -> Map.empty[String, String]) ++
      Seq(Map.empty[String, String], Map("limit" -> "2", "offset" -> "1"), Map("offset" -> "1000"),
        Map("from_index" -> s"$p:3"), Map("type" -> "state"), Map("type" -> "request"),
        Map("type" -> "state", "from_index" -> s"$p:5", "limit" -> "1"))
        .flatMap(q => dropIds.take(2).map(id => s"/jet-drops/$id/records" -> q))
  }

  /** Every `/pulses` page shape with no timestamp bound, bounded by the
    * pulses `at(1)` < `at(2)` < `at(10)`.
    */
  private def pulsesRequests(at: Int => Long): Seq[(String, Map[String, String])] = {
    val asc = Map("sort_by" -> "pulse_number_asc")
    val bounds = Map("pulse_number_gte" -> at(1).toString,
      "pulse_number_lte" -> at(2).toString)
    Seq(Map.empty[String, String], asc, Map("limit" -> "2", "offset" -> "1"),
      asc ++ Map("limit" -> "2", "offset" -> "1"), Map("offset" -> "100"),
      asc ++ Map("offset" -> "100"), bounds, asc ++ bounds ++ Map("limit" -> "1"),
      bounds ++ Map("offset" -> "1"), Map("from_pulse_number" -> at(1).toString),
      Map("pulse_number_gte" -> at(10).toString),
      Map("pulse_number_gte" -> at(2).toString, "pulse_number_lte" -> at(1).toString))
      .map("/pulses" -> _)
  }

  private def query(q: Map[String, String]) =
    if (q.isEmpty) None else Some(q.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("&"))

  /** Every request answers the oracle's status and body over `dir`. */
  private def assertAnswers(dir: String, reqs: Seq[(String, Map[String, String])]): Unit =
    for ((path, q) <- reqs) {
      val got = HttpApi.respond(spark, dir, s"/api/v1$path", query(q))
      val want = Oracle.respond(dir, path, q)
      assert(got == want, s"$path?${query(q).getOrElse("")} over $dir:\n" +
        s" driver=${got._1} ${got._2.take(600)}\n oracle=${want._1} ${want._2.take(600)}")
    }

  /** Every request over `pulses` of a store written from [[wire]], and
    * every `/pulses` page, answers the oracle's status and body.
    */
  private def assertEquivalent(dir: String, pulses: Seq[Long]): Unit =
    assertAnswers(dir, pulsesRequests(pulseAt) ++ pulses.flatMap(requests(_)))

  private def pulseRows(ps: Seq[Int], n: Int) = ps.map { i =>
    val p = pulseAt(i)
    StorePulse(p, p - delta, p + delta, true, i < n - 1, jets.size, perPulse.toLong)
  }

  test("a direct-commit store answers the four routes byte-identically to their " +
      "Spark plans: unknown, committed-unflushed, flushed, first and re-committed pulses") {
    val w = wire(4)
    val dirs = Seq(tmp("graft-routes-summary"), tmp("graft-routes-nosummary"))
    dirs.foreach { dir =>
      (0 until 4).foreach(i => PulseWriter.commitPulse(
        w.filter(col("pulse_number") === pulseAt(i)), dir))
      // pulse 1 re-committed as version B
      PulseWriter.commitPulse(versionB(w.filter(col("pulse_number") === pulseAt(1))), dir)
    }
    // pulses 0-2 flushed, pulse 3 committed but not flushed; one table
    // at a span of 10 (one pulse per bucket) with its summary, one as a
    // store written before summaries existed (every live file read)
    writeStorePulses(dirs(0), pulseRows(0 until 3, 3), span = 10L,
      summary = Some(TableManifest.Summary(pulseAt(1), pulseAt(2) / 10, 10L)))
    writeStorePulses(dirs(1), pulseRows(0 until 3, 3))
    assert(TableManifest.snapshot(spark, s"${dirs(0)}/pulses").get.partitions.size == 3)
    assert(TableManifest.snapshot(spark, s"${dirs(1)}/pulses").get.summary.isEmpty)
    dirs.foreach(dir => assertEquivalent(dir, (-1 to 4).map(pulseAt)))
    // spot semantics: the re-committed pulse serves version B
    val (s, body) = HttpApi.respond(spark, dirs(0), s"/api/v1/jet-drops/0:${pulseAt(1)}/records",
      Some("limit=100"))
    assert(s == 200 && body.startsWith(s"""{"total":${perPulse / jets.size - 1},"""), body.take(200))
  }

  test("a store with no manifest for a table answers like the Spark plans' empty frames") {
    val fresh = tmp("graft-routes-fresh")
    assertEquivalent(fresh, Seq(start))
    // records and drops committed, no pulses table yet
    val unflushed = tmp("graft-routes-unflushed")
    PulseWriter.commitPulse(wire(2), unflushed)
    assert(TableManifest.snapshot(spark, s"$unflushed/pulses").isEmpty)
    assertEquivalent(unflushed, Seq(start, pulseAt(1), pulseAt(2)))
  }

  test("a daemon-written store answers the four routes byte-identically to their Spark plans") {
    val nPulses = 3
    val w = wire(nPulses)
    val base = tmp("graft-routes-daemon")
    val server = org.sparkproject.connect.grpc.netty.NettyServerBuilder.forPort(0)
      .addService(GrpcTransport.recordService(new ReplayExporter(w))).build().start()
    val handle = Ingest.bootstrap(spark, base, "localhost", server.getPort, start,
      Ingest.Config(pulsePeriodMs = 150L, sequentialPeriodMs = 50L,
        headPauseMs = 100L, errorPauseMs = 100L, batchSize = 7, fetchBackoffMs = 5L))
    try {
      val last = pulseAt(nPulses - 1)
      val t0 = System.nanoTime()
      while (handle.daemon.sequentialPulse != last && (System.nanoTime() - t0) / 1e9 < 60)
        Thread.sleep(50)
      assert(handle.daemon.sequentialPulse == last, s"daemon never converged: ${handle.daemon.snapshot}")
    } finally {
      handle.stop()
      server.shutdownNow(); server.awaitTermination(5, TimeUnit.SECONDS)
    }
    assert(TableManifest.snapshot(spark, s"$base/pulses").get.summary.nonEmpty)
    assertEquivalent(base, (-1 to nPulses).map(pulseAt))
  }

  test("the corpus answers the five routes byte-identically to their Spark plans: " +
      "an unmerged and a merged pulse, an absent pulse and every /pulses page shape") {
    val dir = "/root/testdata/sf0.001"
    val byPulse = Domain.servedJetDrops(spark, dir).select("pulse_number", "jet_id").collect()
      .groupBy(_.getLong(0)).map { case (p, ds) => p -> ds.map(_.getString(1)).sorted.toSeq }
    val multi = byPulse.filter(_._2.size >= 2).keys.toSeq.sorted
    // a merged pulse (every 4th) has depth-2 drops over depth-3 records
    val picked = Seq(multi.find(_ % 4 != 0), multi.find(_ % 4 == 0)).flatten
    assert(picked.size == 2, s"the corpus needs a merged and an unmerged multi-drop pulse: $multi")
    val pulses = Domain.servedPulses(spark, dir).select("pulse_number").collect()
      .map(_.getLong(0)).sorted
    assertAnswers(dir, pulsesRequests(pulses(_)) ++
      picked.flatMap(p => requests(p, byPulse(p), missingJet = "111111")) ++
      requests(pulses.last + 1000, Seq("000", "001")))
  }

  test("the five driver-read routes run no Dataset action on an ingest store: warm, " +
      "on the first read after a commit, and on the first read after a pulses flush") {
    val dir = tmp("graft-routes-no-actions")
    val w = wire(3)
    (0 until 2).foreach(i => PulseWriter.commitPulse(
      w.filter(col("pulse_number") === pulseAt(i)), dir))
    def flush(n: Int) = writeStorePulses(dir, pulseRows(0 until n, 3), span = 10L,
      summary = Some(TableManifest.Summary(start, pulseAt(n - 1) / 10, 10L)))
    flush(2)
    val p = pulseAt(1)
    val routes = Seq("/pulses" -> Some("limit=1&offset=1"), s"/pulses/$p" -> None,
      s"/pulses/$p/jet-drops" -> Some("limit=2&offset=1"), s"/jet-drops/10:$p" -> None,
      s"/jet-drops/0:$p/records" -> Some("from_index=1:1"))
    def actions(path: String, q: Option[String]): Seq[String] = queriesDuring {
      val (s, body) = HttpApi.respond(spark, dir, s"/api/v1$path", q)
      assert(s == 200, s"$path: $s ${body.take(200)}")
    }.map(_.analyzed.toString)
    routes.foreach { case (path, q) =>
      HttpApi.respond(spark, dir, s"/api/v1$path", q)
      val seen = actions(path, q)
      assert(seen.isEmpty, s"warm $path: $seen")
    }
    // the listener sees the actions where they run: the same route's
    // Spark plan, and its collect over a local relation
    assert(queriesDuring(Oracle.respond(dir, s"/pulses/$p/jet-drops", Map("limit" -> "2"))).nonEmpty)
    assert(queriesDuring(Endpoints.jetDropsByPulse(spark, dir, p).collect()).size == 1)
    routes.zipWithIndex.foreach { case ((path, q), i) =>
      val version = if (i % 2 == 0) versionB(w) else w
      PulseWriter.commitPulse(version.filter(col("pulse_number") === p), dir)
      val seen = actions(path, q)
      assert(seen.isEmpty, s"first read of $path after a commit: $seen")
    }
    routes.zipWithIndex.foreach { case ((path, q), i) =>
      flush(2 + i % 2)
      val seen = actions(path, q)
      assert(seen.isEmpty, s"first read of $path after a pulses flush: $seen")
    }
  }

  test("the four routes run no Spark job on an ingest store: warm, on the first " +
      "read after a commit, and on the first read after a pulses flush") {
    val dir = tmp("graft-routes-jobs")
    val w = wire(3)
    (0 until 2).foreach(i => PulseWriter.commitPulse(
      w.filter(col("pulse_number") === pulseAt(i)), dir))
    writeStorePulses(dir, pulseRows(0 until 2, 2), span = 10L,
      summary = Some(TableManifest.Summary(start, pulseAt(1) / 10, 10L)))
    val p = pulseAt(1)
    val routes = Seq(s"/pulses/$p" -> None, s"/pulses/$p/jet-drops" -> Some("limit=2&offset=1"),
      s"/jet-drops/10:$p" -> None, s"/jet-drops/0:$p/records" -> Some("from_index=1:1"))
    def jobs(path: String, q: Option[String]): Int = jobsDuring {
      val (s, body) = HttpApi.respond(spark, dir, s"/api/v1$path", q)
      assert(s == 200, s"$path: $s ${body.take(200)}")
    }
    routes.foreach { case (path, q) =>
      HttpApi.respond(spark, dir, s"/api/v1$path", q)
      assert(jobs(path, q) == 0, s"warm $path")
    }
    // the pin sees jobs where they run: the same route's Spark plan
    val (path, q) = routes(1)
    assert(jobsDuring(Oracle.respond(dir, path, q.toSeq.flatMap(_.split("&"))
      .map(_.split("=")).map(kv => kv(0) -> kv(1)).toMap)) > 0)
    routes.zipWithIndex.foreach { case ((path, q), i) =>
      val version = if (i % 2 == 0) versionB(w) else w
      PulseWriter.commitPulse(version.filter(col("pulse_number") === p), dir)
      assert(jobs(path, q) == 0, s"first read of $path after a commit")
    }
    routes.zipWithIndex.foreach { case ((path, q), i) =>
      writeStorePulses(dir, pulseRows(0 until 2 + i % 2, 3), span = 10L,
        summary = Some(TableManifest.Summary(start, pulseAt(1) / 10, 10L)))
      assert(jobs(path, q) == 0, s"first read of $path after a pulses flush")
    }
  }

  test("a /pulses page with no timestamp bound runs no Spark job on an ingest store: " +
      "warm, on the first read after a commit, and on the first read after a pulses flush") {
    val dir = tmp("graft-routes-pulses-jobs")
    val w = wire(3)
    PulseWriter.commitPulse(w.filter(col("pulse_number") === start), dir)
    def flush(n: Int) = writeStorePulses(dir, pulseRows(0 until n, 3), span = 10L,
      summary = Some(TableManifest.Summary(start, pulseAt(n - 1) / 10, 10L)))
    flush(2)
    val pages = Seq(None, Some(s"pulse_number_lte=${pulseAt(1)}&limit=1&sort_by=pulse_number_asc"),
      Some("offset=100"))
    def jobs(q: Option[String]): Int = jobsDuring {
      val (s, body) = HttpApi.respond(spark, dir, "/api/v1/pulses", q)
      assert(s == 200, s"$q: $s ${body.take(200)}")
    }
    pages.foreach { q =>
      HttpApi.respond(spark, dir, "/api/v1/pulses", q)
      assert(jobs(q) == 0, s"warm $q")
    }
    // the pin sees jobs where they run: a timestamp-bounded page scans
    assert(jobs(Some("timestamp_gte=0")) > 0)
    pages.zipWithIndex.foreach { case (q, i) =>
      PulseWriter.commitPulse(w.filter(col("pulse_number") === pulseAt(1 + i % 2)), dir)
      assert(jobs(q) == 0, s"first read of $q after a commit")
    }
    pages.zipWithIndex.foreach { case (q, i) =>
      flush(2 + i % 2)
      assert(jobs(q) == 0, s"first read of $q after a pulses flush")
    }
  }

  // also /jets/{jet}/jet-drops and a timestamp-bounded /pulses page
  test("one request to /pulses, /pulses/{pulse} or /jet-drops/{id} lists the pulses " +
      "manifests once, warm and on the first read after a pulses flush") {
    val local = tmp("graft-routes-listings")
    PulseWriter.commitPulse(wire(3), local)
    def flush(n: Int) = writeStorePulses(local, pulseRows(0 until n, 3), span = 10L,
      summary = Some(TableManifest.Summary(start, pulseAt(n - 1) / 10, 10L)))
    flush(2)
    CountingFileSystem.mount(spark)
    val dir = CountingFileSystem.path(local)
    val p = pulseAt(1)
    val driverRoutes = Seq("/pulses" -> None, "/pulses" -> Some(s"pulse_number_gte=$p&limit=1"),
      s"/pulses/$p" -> None, s"/jet-drops/10:$p" -> None)
    // the two routes that still plan over the Spark views
    val viewRoutes = Seq("/pulses" -> Some(s"timestamp_gte=${p - Fixtures.GenesisPulse}&limit=1"),
      "/jets/10/jet-drops" -> None)
    val routes = driverRoutes ++ viewRoutes
    def assertOneListing(path: String, q: Option[String], when: String): Unit = {
      var got: (Int, String) = null
      val (listed, _) = CountingFileSystem.during {
        got = HttpApi.respond(spark, dir, s"/api/v1$path", q)
      }
      assert(got._1 == 200, s"$when $path: $got")
      assert(got == HttpApi.respond(spark, local, s"/api/v1$path", q), s"$when $path")
      val manifests = listed.filter(_.endsWith("/_manifests"))
      assert(manifests.count(_ == s"$local/pulses/_manifests") == 1, s"$when $path: $listed")
      assert(manifests.distinct == manifests, s"$when $path lists each manifests dir once: $listed")
      if (driverRoutes.contains(path -> q))
        assert(listed == manifests, s"$when $path lists nothing but manifests dirs: $listed")
    }
    routes.foreach { case (path, q) =>
      HttpApi.respond(spark, dir, s"/api/v1$path", q)
      assertOneListing(path, q, "warm")
    }
    routes.zipWithIndex.foreach { case ((path, q), i) =>
      flush(2 + i % 2)
      assertOneListing(path, q, "first read after a flush:")
    }
  }

  test("the chain index a store rebuilds in the driver answers like the Spark " +
      "collect, and a rebuild after a flush runs no job") {
    val dir = tmp("graft-routes-chain")
    PulseWriter.commitPulse(wire(1), dir)
    // a chain with a gap, a broken link and a stored prev that no pulse has
    val rows = Seq(0, 1, 2, 4, 5, 7).map { i =>
      val p = pulseAt(i)
      val prev = if (i == 4) pulseAt(3) else if (i == 7) pulseAt(5) else p - delta
      StorePulse(p, prev, p + delta, true, true, jets.size, perPulse.toLong)
    }
    writeStorePulses(dir, rows.take(3), span = 20L)
    Domain.pulseChainIndex(spark, dir)
    writeStorePulses(dir, rows, span = 20L)
    var idx: Domain.PulseChainIndex = null
    assert(jobsDuring { idx = Domain.pulseChainIndex(spark, dir) } == 0,
      "a rebuild after a flush runs no Spark job")
    val spark0 = Domain.PulseChainIndex(StoreViews.pulses(spark, dir)
      .select(col("pulse_number"), col("prev_pulse_number")).collect()
      .map(r => (r.getLong(0), r.getLong(1))))
    assert(idx.size == rows.size && spark0.size == rows.size)
    (-2 to 9).map(pulseAt).foreach { p =>
      assert(idx.storedPrev(p) == spark0.storedPrev(p), s"storedPrev($p)")
      assert(idx.nextByPrev(p) == spark0.nextByPrev(p), s"nextByPrev($p)")
    }
    for (gte <- Seq(None, Some(pulseAt(2))); lte <- Seq(None, Some(pulseAt(5)));
         asc <- Seq(true, false); offset <- Seq(0, 1, 5); limit <- Seq(1, 2, 20))
      assert(idx.pageSlice(gte, lte, asc, offset, limit).toSeq ==
        spark0.pageSlice(gte, lte, asc, offset, limit).toSeq, s"pageSlice($gte, $lte, $asc, $offset, $limit)")
  }
}

object StoreRouteEquivalenceSpec {

  /** The oracle's link element: `server.NextPrevJetDrop` rendered by
    * `transformPrevNextResp` (`api/handlers.go:785-792`).
    */
  final case class JetDropLink(jet_drop_id: String, jet_id: String, pulse_number: Long)
}
