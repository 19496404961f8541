package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Domain
import graft.functions.{Codecs, JetFunctions}
import graft.operators.{Pagination, Predicates, PulseChain}

/** The reference's eight read endpoints (`api/handlers.go`) as pure
  * functions SparkSession → params → DataFrame page: validate → build the
  * declarative query → present (SURVEY §3.2's four-layer shape, minus the
  * HTTP frame). Every function returns a bounded page; pagination inputs
  * are validated like `api/handlers.go:678-703`.
  */
object Endpoints {

  final case class PageParams(limit: Int = Pagination.DefaultLimit, offset: Int = 0) {
    require(Pagination.validLimit(limit), s"limit must be in [1,1000]: $limit")
    require(Pagination.validOffset(offset), s"offset must be >= 0: $offset")
  }

  // Endpoints serve from the materialized spine (Domain.served*): the
  // reference maintains these tables at write time and every read is an
  // indexed scan — per-request recomputation of a fact-wide window or
  // groupBy would not survive the 100 TB read path.
  // Each endpoint ensures only the table(s) it actually reads: eagerly
  // touching all three would cost three artifact existence checks per
  // request and, on a cold corpus, build spines the endpoint never scans
  // (a pulses point lookup must not trigger the jet_drops build).
  private def recordsView(spark: SparkSession, dir: String) = Domain.servedRecords(spark, dir)
  private def dropsView(spark: SparkSession, dir: String) = Domain.servedJetDrops(spark, dir)
  private def pulsesView(spark: SparkSession, dir: String) = Domain.servedPulses(spark, dir)

  /** GET /pulses — list with recomputed chain links, newest first, plus
    * the `{total}` count of the filtered set. Timestamp bounds are unix
    * seconds (`filterByTimestamp`, `etl/storage/storage.go:210-218`).
    * Page-edge `-1` sentinels are patched with J2 point lookups against
    * the FULL table like the reference's pulses handler
    * (`etl/storage/storage.go:326-379`): the page's newest row gets the
    * true successor (the pulse whose stored prev points at it), the
    * oldest row its true predecessor — both may sit outside the filter.
    *
    * Pulse-bounded pages (no timestamp filter — the hot home-page shape)
    * serve from the DRIVER-HELD chain index: `total` and the page's
    * exact pulse numbers are positions in its sorted array
    * ([[Domain.PulseChainIndex.countInRange]]/[[Domain.PulseChainIndex.pageSlice]]),
    * so the request costs one tight `pulse_number BETWEEN` row fetch —
    * O(page) via row-group stats — instead of a full scan-sort-count of
    * the dimension, which grows with pulse HISTORY (one row per 10 s ≈
    * 3 M rows/year; the serving scale curve in SCALE.md measured the
    * scan path doubling from 50k → 500k pulses while this path is flat). The fast
    * path is accepted only when the fetched rows' pulse numbers equal
    * the index slice BY VALUE (a racing commit between the two
    * resolutions — including a same-cardinality replace — falls back to
    * the scan path); timestamp-filtered pages always take the scan path
    * (the index holds pulse numbers only).
    */
  def pulses(spark: SparkSession, dir: String, page: PageParams = PageParams(),
      fromPulse: Option[Long] = None, toPulse: Option[Long] = None,
      fromTimestamp: Option[Long] = None, toTimestamp: Option[Long] = None,
      asc: Boolean = false): DataFrame = {
    if (fromTimestamp.isEmpty && toTimestamp.isEmpty) {
      // the index BEFORE the view: a rebuild is a Spark job of its own,
      // and a view resolved ahead of it would have to outlive that job as
      // well before its fetch runs, eating into the retention window that
      // keeps the files the view planned
      val chain = Domain.pulseChainIndex(spark, dir)
      val p = pulsesView(spark, dir)
      val total = chain.countInRange(fromPulse, toPulse)
      val slice = chain.pageSlice(fromPulse, toPulse, asc, page.offset, page.limit)
      // the slow path's post-join shape: page columns nullable (the
      // sentinel row carries nulls there), then total + marker
      val schema = org.apache.spark.sql.types.StructType(
        p.schema.fields.map(_.copy(nullable = true)) ++ Seq(
          org.apache.spark.sql.types.StructField("total",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField(Pagination.PageRowMarker,
            org.apache.spark.sql.types.BooleanType, nullable = false)))
      val fetched: Array[org.apache.spark.sql.Row] =
        if (slice.isEmpty) Array.empty
        else p.filter(col("pulse_number").between(slice.head, slice.last)).collect()
      // accept the fast path only when the fetched rows are EXACTLY the
      // index's slice by value, not just by count: a same-cardinality
      // add+remove reflush between the two resolutions (the daemon's
      // normal flush replaces a pulse in place) must not serve a page
      // whose membership disagrees with the index that produced `total`
      // and the cut — ≤1000 longs, negligible vs the fetch itself
      val fetchedPulses =
        if (slice.isEmpty) Array.empty[Long]
        else {
          val pnIdx = p.schema.fieldIndex("pulse_number")
          fetched.map(_.getLong(pnIdx)).sorted
        }
      if (slice.isEmpty || java.util.Arrays.equals(fetchedPulses, slice.sorted.toArray)) {
        val out: Array[org.apache.spark.sql.Row] =
          if (fetched.isEmpty)
            Array(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              p.schema.fields.map(_ => null: Any) ++ Array[Any](total, false), schema))
          else {
            val paged = fetched.map(r =>
              new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
                (r.toSeq ++ Seq[Any](total, true)).toArray, schema)
                : org.apache.spark.sql.Row)
            val repaired = repairAndPatchPage(spark, dir, paged)
            val pnIdx = schema.fieldIndex("pulse_number")
            if (asc) repaired.sortBy(_.getLong(pnIdx))
            else repaired.sortBy(-_.getLong(pnIdx))
          }
        return spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
      }
      // fall through: the index slice and the fetch disagreed (a commit
      // landed in between) — the scan path below resolves one snapshot
    }
    val p = pulsesView(spark, dir)
    val filtered = p
      .filter(Predicates.range(col("pulse_number"), gte = fromPulse, lte = toPulse))
      .filter(Predicates.range(col("timestamp"), gte = fromTimestamp, lte = toTimestamp))
    // Cut the page and attach the filtered total in ONE plan whose total
    // survives an empty page (Pagination.pageWithTotalCarried: an offset
    // past the end yields a marker-false sentinel row carrying the true
    // count, so the out-of-range corner costs the same single pass as an
    // in-range page — no second filtered-count probe). Default order is
    // the reference's newest-first; `sort_by=pulse_number_asc` flips it
    // (storage.go:310-314).
    val pageSort = if (asc) col("pulse_number").asc else col("pulse_number").desc
    val pageQuery = Pagination.pageWithTotalCarried(filtered,
      Seq(pageSort), page.limit, page.offset)
    // Materialize the ≤1000-row page ONCE; the J3 within-page chain
    // repair and the J2 edge patch are then pure driver-side row rewrites
    // of the collected page — exactly the reference's per-page loop
    // (storage.go:326-379) — so a pulses page costs exactly one scan.
    val rows = pageQuery.collect()
    val (pageRows, sentinel) =
      rows.partition(_.getAs[Boolean](Pagination.PageRowMarker))
    val out =
      if (pageRows.isEmpty) sentinel // total-only: the envelope reads `total`
      else {
        val repaired = repairAndPatchPage(spark, dir, pageRows)
        val pnIdx = pageQuery.schema.fieldIndex("pulse_number")
        if (asc) repaired.sortBy(_.getLong(pnIdx))
        else repaired.sortBy(-_.getLong(pnIdx))
      }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), pageQuery.schema)
  }

  /** J3 within-page chain repair + J2 page-edge patching as one bounded
    * driver pass (pages are ≤1000 rows by validation) — the reference's
    * per-page loop (`etl/storage/storage.go:326-379`) verbatim. Repair
    * (W6 semantics, [[PulseChain.repairChain]]'s lag/lead algebra on the
    * ascending page): a prev link holds iff the stored prev equals the
    * actual page predecessor; a next link holds iff the successor's
    * stored prev points back. The edge lookups — the newest row's
    * successor (the pulse whose stored prev points at it) and the oldest
    * row's stored prev, existence-checked — answer from the driver-held
    * chain index with ZERO Spark jobs, so a pulses page costs exactly
    * one distributed pass however it paginates.
    */
  private def repairAndPatchPage(spark: SparkSession, dir: String,
      rows: Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] = {
    val schema = rows.head.schema
    val nextIdx = schema.fieldIndex("next_pulse_number")
    val prevIdx = schema.fieldIndex("prev_pulse_number")
    val pnIdx = schema.fieldIndex("pulse_number")
    val asc = rows.sortBy(_.getLong(pnIdx))
    val pn = asc.map(_.getLong(pnIdx))
    val storedPrev = asc.map(_.getLong(prevIdx))
    val n = asc.length
    val chain = Domain.pulseChainIndex(spark, dir)
    // page edges (J2): successor of the newest row = the pulse whose
    // stored prev points at it; predecessor of the oldest = its stored
    // prev, only if that pulse exists (GetPulse semantics)
    val nextOfHi = chain.nextByPrev(pn(n - 1)).getOrElse(PulseChain.Unknown)
    val prevOfLo = chain.storedPrev(pn(0)).filter(chain.exists).getOrElse(PulseChain.Unknown)
    Array.tabulate(n) { i =>
      val prev =
        if (i > 0) { if (storedPrev(i) == pn(i - 1)) pn(i - 1) else PulseChain.Unknown }
        else prevOfLo
      val next =
        if (i < n - 1) { if (storedPrev(i + 1) == pn(i)) pn(i + 1) else PulseChain.Unknown }
        else nextOfHi
      val vals = asc(i).toSeq.toArray
      vals(prevIdx) = prev
      vals(nextIdx) = next
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vals, schema)
    }
  }

  /** GET /pulses/{pulse} — point lookup. `GetPulse`
    * (`etl/storage/storage.go:286-300`) repairs BOTH links with point
    * probes before returning: `next` is the pulse whose stored prev
    * points here (`updateNextPulse`, first match in pulse order, else
    * -1) and `prev` is the stored prev only if that pulse actually
    * exists (`updatePrevPulse`, else -1). Both answered by the
    * driver-held chain index; the pruned row fetch is the request's only
    * Spark job.
    */
  def pulse(spark: SparkSession, dir: String, pulseNumber: Long): DataFrame = {
    val p = pulsesView(spark, dir)
    val row = p.filter(col("pulse_number") === pulseNumber).limit(1)
    // both repair probes answer from the driver-held chain index — the
    // row fetch is the request's ONLY Spark job
    val chain = Domain.pulseChainIndex(spark, dir)
    chain.storedPrev(pulseNumber) match {
      case None => row // pulse absent; the caller 404s on the empty frame
      case Some(storedPrev) =>
        val next = chain.nextByPrev(pulseNumber).getOrElse(PulseChain.Unknown)
        val prev = if (chain.exists(storedPrev)) storedPrev else PulseChain.Unknown
        row
          .withColumn("next_pulse_number", lit(next))
          .withColumn("prev_pulse_number", lit(prev))
    }
  }

  /** GET /pulses/{pulse}/jet-drops — drops of one pulse, jet-id cursor.
    * Paged with the carried-total sentinel ([[Pagination.pageWithTotalCarried]])
    * like every offset-capable list endpoint: an offset past the end
    * still answers the true filtered total in the same single pass.
    */
  def jetDropsByPulse(spark: SparkSession, dir: String, pulseNumber: Long,
      fromJetId: Option[String] = None, page: PageParams = PageParams()): DataFrame = {
    val d = dropsView(spark, dir)
    val filtered = d.filter(col("pulse_number") === pulseNumber)
    val cursored = fromJetId.fold(filtered)(j => filtered.filter(col("jet_id") >= j))
    Mappers.jetDropToApi(
      Pagination.pageWithTotalCarried(cursored, Seq(col("jet_id").asc), page.limit, page.offset))
  }

  /** API link element: `server.NextPrevJetDrop` rendered by
    * `transformPrevNextResp` (`api/handlers.go:785-792`).
    */
  final case class JetDropLink(jet_drop_id: String, jet_id: String, pulse_number: Long)

  /** GET /jet-drops/{jet_drop_id} — point lookup by "<jet>:<pulse>",
    * enriched with SIBLING-scoped prev/next drop links like
    * `GetJetDropByID` (`etl/storage/storage.go:496-531`): next drops live
    * at the probed next pulse (`updateNextPulse` — the pulse whose stored
    * prev points here; skipped when none), prev drops at the STORED prev
    * pulse (no existence repair there), both restricted to the jet's
    * sibling set {self, self+"0", self+"1", parent}
    * (`models.Siblings()`, `etl/models/models.go:57-64`). Note this
    * differs from the by-jet-id LIST endpoint, which links by drop
    * hashes — the reference ships both semantics and so do we. The two
    * chain questions answer from the driver-held index; the row fetch
    * and the sibling-drop collect are the request's only Spark jobs.
    */
  def jetDropById(spark: SparkSession, dir: String, jetDropId: String): Option[DataFrame] =
    Codecs.parseJetDropId(jetDropId).map { case (jet, pulse) =>
      jetDropByKey(spark, dir, jet, pulse)
    }

  /** [[jetDropById]] past the id parse — also the [[search]] dispatch
    * target, which already HOLDS the parsed (jet, pulse) and must not
    * re-render and re-parse the id (a render/parse divergence would
    * surface as a serve-time NoSuchElementException).
    */
  private def jetDropByKey(spark: SparkSession, dir: String,
      jet: String, pulse: Long): DataFrame = {
      val d = dropsView(spark, dir)
      val rowQuery = d.filter(col("pulse_number") === pulse && col("jet_id") === jet).limit(1)
      // existence gates the neighbor job: a 404 (absent drop) must cost
      // exactly the point fetch, and the collected row is returned as a
      // LocalRelation so the caller's collect re-runs nothing
      val rows = rowQuery.collect()
      if (rows.isEmpty)
        Mappers.jetDropToApi(spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), rowQuery.schema))
      else {
        // both point queries the reference makes (the stored prev and the
        // updateNextPulse successor probe) answer from the driver-held
        // chain index — zero extra Spark jobs
        val chain = Domain.pulseChainIndex(spark, dir)
        val (prevLinks, nextLinks) =
          chain.storedPrev(pulse) match {
            case None => (Seq.empty[JetDropLink], Seq.empty[JetDropLink])
            case Some(storedPrev) =>
              val nextPulse = chain.nextByPrev(pulse).getOrElse(PulseChain.Unknown)
              val siblings = JetFunctions.jetLinkCandidates(jet)
              val neighbors = d
                .filter((col("pulse_number") === nextPulse || col("pulse_number") === storedPrev) &&
                  col("jet_id").isin(siblings: _*))
                .select(col("pulse_number"), col("jet_id")).collect()
                .map { r =>
                  val (pn, j) = (r.getLong(0), r.getString(1))
                  (pn, JetDropLink(s"${if (j.isEmpty) "*" else j}:$pn",
                    if (j.isEmpty) "*" else j, pn))
                }
              (neighbors.collect { case (pn, l) if pn == storedPrev => l }
                 .sortBy(_.jet_drop_id).toSeq,
               neighbors.collect { case (pn, l) if pn == nextPulse && nextPulse != PulseChain.Unknown => l }
                 .sortBy(_.jet_drop_id).toSeq)
          }
        Mappers.jetDropToApi(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), rowQuery.schema)
          .withColumn("prev_jet_drop_id", typedLit(prevLinks))
          .withColumn("next_jet_drop_id", typedLit(nextLinks)))
      }
  }

  /** GET /jet-drops/{jet_drop_id}/records — records of one drop, keyset.
    * `recordType` narrows to one of request/result/state
    * (`api/handlers.go:108-118`); validation of the enum is the HTTP
    * frame's job, like the reference's.
    */
  def jetDropRecords(spark: SparkSession, dir: String, jetDropId: String,
      fromIndex: Option[String] = None, page: PageParams = PageParams(),
      recordType: Option[String] = None): Option[DataFrame] =
    Codecs.parseJetDropId(jetDropId).map { case (jet, pulse) =>
      val r = recordsView(spark, dir)
      val base = r.filter(col("pulse_number") === pulse && col("jet_id") === jet)
      val typed = recordType.fold(base)(t => base.filter(col("type") === t))
      val cursored = parsedCursor(fromIndex).fold(typed) { case (p, o) =>
        typed.filter(Predicates.keysetFrom(col("pulse_number"), col("order"), p, o, asc = true))
      }
      Pagination.pageWithTotalCarried(cursored,
        Seq(col("pulse_number").asc, col("order").asc, col("reference").asc),
        page.limit, page.offset)
    }

  /** GET /jet-drops/by-jet-id — subtree+ancestors over a pulse range,
    * mixed two-key sort (limit-only, default 1000, like the reference),
    * enriched with the J5 prev/next jet-drop id lists via hash linkage
    * (`api/handlers.go:207-297`): neighbors come from the page's pulse
    * span ±1 (partition-pruned scan) and broadcast against the page.
    */
  def jetDropsByJetId(spark: SparkSession, dir: String, jetPrefix: String,
      fromPulse: Option[Long] = None, toPulse: Option[Long] = None,
      pulseAsc: Boolean = true, limit: Int = 1000,
      withLinks: Boolean = true): DataFrame = {
    require(Pagination.validLimit(limit), s"limit must be in [1,1000]: $limit")
    val d = dropsView(spark, dir)
    val filtered = d
      .filter(Predicates.range(col("pulse_number"), gte = fromPulse, lte = toPulse))
      .filter(JetFunctions.jetTreePredicate(col("jet_id"), jetPrefix))
    val sorted =
      if (pulseAsc) Seq(col("pulse_number").asc, col("jet_id").desc)
      else Seq(col("pulse_number").desc, col("jet_id").asc)
    val paged = Pagination.pageWithTotal(filtered, sorted, limit)
    val out = if (!withLinks) paged else {
      // Materialize the ≤1000-row page ONCE (the reference holds the page
      // rows in memory the same way, handlers.go:207-223). Without this
      // the linkage plan re-executes the page subtree — scan, sort,
      // count — on every join side (~5× per request, measured); with it,
      // one distributed job produces the page and everything downstream
      // joins a LocalRelation.
      val pageQuery = paged.withColumn("jet_drop_id",
        Codecs.jetDropIdString(col("jet_id"), col("pulse_number")))
      val pageRows = pageQuery.collect()
      // empty page: an empty LocalRelation in the SAME linked schema the
      // populated branch returns (jet_drop_id + next_ids/prev_ids) — a
      // data-dependent schema would break any consumer unioning pages or
      // selecting link columns across requests
      if (pageRows.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          linkedSchema(pageQuery.schema))
      else {
        // The linkable set mirrors the reference exactly (handlers.go:
        // 207-223 + getEnrichingJetDrops 244-268): the PAGE's own drops
        // plus the drops of two EDGE pulses — the oldest page pulse's
        // chain predecessor (its stored prev, only if that pulse exists —
        // GetPulse semantics) and the next SAVED pulse after the newest
        // (min pulse_number > hi, so links jump pulse gaps). Bounded by
        // construction: ≤1000 page rows + two pulses of drops, never a
        // span scan — and an in-span drop outside the page is NOT
        // linkable, same as the reference's maps.
        val pns = pageRows.map(_.getAs[Long]("pulse_number"))
        val (lo, hi) = (pns.min, pns.max)
        // both edge pulses answer from the driver-held chain index with
        // zero Spark jobs, including GetPulse's existence check on the
        // stored prev (updatePrevPulse semantics)
        val chain = Domain.pulseChainIndex(spark, dir)
        val prevEdge = chain.storedPrev(lo).filter(_ > 0).filter(chain.exists)
        val nextEdge = chain.nextSavedAfter(hi)
        val edgePulses = prevEdge.toSeq ++ nextEdge.toSeq
        // link assembly is the reference's in-memory map build
        // (createNextPrevMaps, handlers.go:269-297) over bounded inputs:
        // the ≤1000 collected page rows plus one collect of the two edge
        // pulses' drops — driver maps, zero joins, exactly the J5
        // hash-link semantics JetLinkage.hashLinkIds pins distributively
        // for the oracle twin (be_jet_links_hash)
        val sch = pageQuery.schema
        val (idI, hI, fpI, spI) = (sch.fieldIndex("jet_drop_id"), sch.fieldIndex("hash"),
          sch.fieldIndex("first_prev_hash"), sch.fieldIndex("second_prev_hash"))
        val pageTriples = pageRows.map(r =>
          (r.getString(idI), r.getString(hI), r.getString(fpI)))
        val edgeTriples =
          if (edgePulses.isEmpty) Array.empty[(String, String, String)]
          else d.filter(col("pulse_number").isin(edgePulses: _*))
            .select(Codecs.jetDropIdString(col("jet_id"), col("pulse_number")),
              col("hash"), col("first_prev_hash")).collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        val neighbors = pageTriples ++ edgeTriples
        val idsByPrevHash = neighbors.filter(_._3 != null)
          .groupBy(_._3).map { case (k, g) => k -> g.map(_._1) }
        val idsByHash = neighbors.filter(_._2 != null)
          .groupBy(_._2).map { case (k, g) => k -> g.map(_._1) }
        val linked: Array[org.apache.spark.sql.Row] = pageRows.map { r =>
          val nextIds = idsByPrevHash.getOrElse(r.getString(hI), Array.empty[String])
            .sorted.mkString(",")
          val prevIds = Seq(r.getString(fpI), r.getString(spI)).filter(_ != null).distinct
            .flatMap(h => idsByHash.getOrElse(h, Array.empty[String]))
            .sorted.mkString(",")
          new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
            r.toSeq.toArray :+ (nextIds: Any) :+ (prevIds: Any), linkedSchema(sch))
        }
        spark.createDataFrame(java.util.Arrays.asList(linked: _*), linkedSchema(sch))
      }
    }
    Mappers.jetDropToApi(out)
  }

  private def linkedSchema(page: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(page.fields ++ Seq(
      org.apache.spark.sql.types.StructField("next_ids",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("prev_ids",
        org.apache.spark.sql.types.StringType, nullable = false)))

  /** GET /lifeline/{object_ref}/records — the object lifeline. Timestamp
    * bounds are unix seconds against the record's `ts_sec`, the analog of
    * the reference's record-timestamp filter (`api/handlers.go:616-622`).
    */
  def objectLifeline(spark: SparkSession, dir: String, objectRef: Long,
      asc: Boolean = true, fromIndex: Option[String] = None,
      fromPulse: Option[Long] = None, toPulse: Option[Long] = None,
      fromTimestamp: Option[Long] = None, toTimestamp: Option[Long] = None,
      page: PageParams = PageParams()): DataFrame = {
    val r = recordsView(spark, dir)
    val base = r.filter(col("object_reference") === objectRef && col("type") === "state")
      .filter(Predicates.range(col("pulse_number"), gte = fromPulse, lte = toPulse))
      .filter(Predicates.range(col("ts_sec"), gte = fromTimestamp, lte = toTimestamp))
    val cursored = parsedCursor(fromIndex).fold(base) { case (p, o) =>
      base.filter(Predicates.keysetFrom(col("pulse_number"), col("order"), p, o, asc))
    }
    val sort =
      if (asc) Seq(col("pulse_number").asc, col("order").asc, col("reference").asc)
      else Seq(col("pulse_number").desc, col("order").desc, col("reference").desc)
    Pagination.pageWithTotalCarried(cursored, sort, page.limit, page.offset)
  }

  /** Parse a from_index cursor LOUDLY: the HTTP layer pre-validates, so
    * its requests never reach here malformed — but a non-HTTP caller's
    * typo must fail, not silently serve an UNCURSORED first page the
    * client would resume pagination from (re-reading rows).
    */
  private def parsedCursor(fromIndex: Option[String]): Option[(Long, Long)] =
    fromIndex.map(s => Codecs.parseIndex(s).getOrElse(
      throw new IllegalArgumentException(s"invalid from_index: $s")))

  /** GET /search — polymorphic dispatch to the matching point query. */
  def search(spark: SparkSession, dir: String, value: String): (String, DataFrame) =
    Search.dispatch(value) match {
      case Search.PulseTarget(p) => ("pulse", pulse(spark, dir, p))
      case Search.JetDropTarget(jet, p) =>
        ("jet_drop", jetDropByKey(spark, dir, jet, p))
      case Search.LifelineTarget(ref) =>
        // the 36-byte layout maps to the serving key space per LAYOUT
        // (corpus: low 8 bytes invert the ref synthesis; store: xxhash64
        // of the stored bytes — Domain.refToKey)
        ("lifeline", objectLifeline(spark, dir,
          graft.model.Domain.refToKey(spark, dir, ref)))
      case Search.RecordTarget(ref) => ("record", recordByRef(spark, dir, ref))
      // distinct tags: an integer that is NOT a valid pulse is its own
      // 400 at the reference ("not valid pulse number"), not a NoMatch
      case Search.InvalidPulse(_) => ("invalid_pulse", spark.emptyDataFrame)
      case Search.NoMatch => ("none", spark.emptyDataFrame)
    }

  /** Point lookup of one record by its decoded 36-byte reference — the
    * RecordTarget body, shared with the HTTP layer so the value is
    * classified ONCE there instead of re-dispatched here.
    */
  def recordByRef(spark: SparkSession, dir: String, ref: Array[Byte]): DataFrame =
    recordsView(spark, dir).filter(col("reference") ===
      graft.model.Domain.refToKey(spark, dir, ref)).limit(1)
}
