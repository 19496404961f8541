package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.model.{Domain, Rows, StoreViews}
import graft.functions.{Codecs, JetFunctions}
import graft.operators.{Pagination, Predicates, PulseChain}

/** The reference's eight read endpoints (`api/handlers.go`) as pure
  * functions SparkSession → params → page: validate → read → page →
  * present (SURVEY §3.2's four-layer shape, minus the HTTP frame). Every
  * function returns a bounded page; pagination inputs are validated like
  * `api/handlers.go:678-703`.
  *
  * Five routes are row programs ([[pulsesRows]], [[pulseRows]],
  * [[jetDropsByPulseRows]], [[jetDropByIdRows]], [[jetDropRecordsRows]]):
  * they read their rows — over an ingest store in the driver from the
  * partitions their key names ([[StoreViews]]' driver reads), over the
  * corpus by one collect of the key-filtered view — and filter, page,
  * repair and present them as plain Scala ([[Pagination.pageRows]],
  * [[Mappers]]), one program for both layouts. The by-jet page, the
  * lifeline and a timestamp-bounded `/pulses` page are Spark plans up to
  * their one collect. The DataFrame forms (`pulses`, `pulse`, ...) wrap
  * the same rows in a local frame for library callers; the HTTP layer
  * renders the rows.
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
    * [[pulsesRows]] is the same page as driver rows.
    */
  def pulses(spark: SparkSession, dir: String, page: PageParams = PageParams(),
      fromPulse: Option[Long] = None, toPulse: Option[Long] = None,
      fromTimestamp: Option[Long] = None, toTimestamp: Option[Long] = None,
      asc: Boolean = false): DataFrame =
    pulsesRows(spark, dir, page, fromPulse, toPulse, fromTimestamp, toTimestamp, asc)
      .toDataFrame(spark)

  /** [[pulses]]' page in the driver. Pages with no timestamp bound (the
    * hot home-page shape) serve from the DRIVER-HELD chain index: `total`
    * and the page's exact pulse numbers are positions in its sorted array
    * ([[Domain.PulseChainIndex.countInRange]]/[[Domain.PulseChainIndex.pageSlice]]),
    * so the request fetches only the page's rows instead of a full
    * scan-sort-count of the dimension, which grows with pulse HISTORY
    * (one row per 10 s ≈ 3 M rows/year; the serving scale curve in
    * SCALE.md measured the scan path doubling from 50k → 500k pulses
    * while this path is flat). Over a store those rows are read in the
    * driver from the slice's `pulse_bucket` partitions of the index's
    * own pulses snapshot ([[StoreViews.pulsesOf]]): no Spark job and no
    * Catalyst plan; over the immutable corpus spine the fetch is one
    * `pulse_number BETWEEN` collect. Timestamp-bounded pages scan the
    * view in one Spark plan that cuts the page and carries the total
    * (the index holds pulse numbers only); over a store the view reads
    * the index's own pulses snapshot. The chain repair of the page is
    * then the same driver pass for both.
    */
  def pulsesRows(spark: SparkSession, dir: String, page: PageParams = PageParams(),
      fromPulse: Option[Long] = None, toPulse: Option[Long] = None,
      fromTimestamp: Option[Long] = None, toTimestamp: Option[Long] = None,
      asc: Boolean = false): Rows = {
    lazy val chain = Domain.pulseChainIndex(spark, dir)
    val carried =
      if (fromTimestamp.isEmpty && toTimestamp.isEmpty) {
        val slice = chain.pageSlice(fromPulse, toPulse, asc, page.offset, page.limit)
        val fetched =
          if (StoreViews.isStore(spark, dir)) StoreViews.pulsesOf(spark, dir, chain, slice.toSeq)
          else {
            val view = pulsesView(spark, dir)
            if (slice.isEmpty) Rows.empty(view.schema)
            else Rows.collect(view.filter(col("pulse_number").between(slice.head, slice.last)))
          }
        Pagination.carried(fetched.schema, fetched.rows, chain.countInRange(fromPulse, toPulse))
      } else {
        // over a store, the view of the chain index's own snapshot, so the
        // edge links patched below come from the version the rows do
        val view =
          if (StoreViews.isStore(spark, dir)) StoreViews.pulses(spark, dir, chain.pulses)
          else pulsesView(spark, dir)
        val filtered = view
          .filter(Predicates.range(col("pulse_number"), gte = fromPulse, lte = toPulse))
          .filter(Predicates.range(col("timestamp"), gte = fromTimestamp, lte = toTimestamp))
        // Cut the page and attach the filtered total in ONE plan whose
        // total survives an empty page (Pagination.pageWithTotalCarried:
        // an offset past the end yields a marker-false sentinel row
        // carrying the true count, so the out-of-range corner costs the
        // same single pass as an in-range page). Default order is the
        // reference's newest-first; `sort_by=pulse_number_asc` flips it
        // (storage.go:310-314).
        val pageSort = if (asc) col("pulse_number").asc else col("pulse_number").desc
        Rows.collect(Pagination.pageWithTotalCarried(filtered, Seq(pageSort), page.limit, page.offset))
      }
    // the ≤1000-row page is in the driver; the J3 within-page chain
    // repair and the J2 edge patch are row rewrites of it — exactly the
    // reference's per-page loop (storage.go:326-379)
    val marker = carried.at(Pagination.PageRowMarker)
    val (pageRows, sentinel) = carried.rows.partition(_.getBoolean(marker))
    if (pageRows.isEmpty) carried.copy(rows = sentinel) // total-only: the envelope reads `total`
    else {
      val repaired = repairAndPatchPage(chain, carried.schema, pageRows)
      carried.copy(rows = if (asc) repaired else repaired.reverse)
    }
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
    * chain index with ZERO Spark jobs. Returns the page ascending.
    */
  private def repairAndPatchPage(chain: Domain.PulseChainIndex, schema: StructType,
      rows: Vector[Row]): Vector[Row] = {
    val nextIdx = schema.fieldIndex("next_pulse_number")
    val prevIdx = schema.fieldIndex("prev_pulse_number")
    val pnIdx = schema.fieldIndex("pulse_number")
    val asc = rows.sortBy(_.getLong(pnIdx))
    val pn = asc.map(_.getLong(pnIdx))
    val storedPrev = asc.map(_.getLong(prevIdx))
    val n = asc.length
    // page edges (J2): successor of the newest row = the pulse whose
    // stored prev points at it; predecessor of the oldest = its stored
    // prev, only if that pulse exists (GetPulse semantics)
    val nextOfHi = chain.nextByPrev(pn(n - 1)).getOrElse(PulseChain.Unknown)
    val prevOfLo = chain.storedPrev(pn(0)).filter(chain.exists).getOrElse(PulseChain.Unknown)
    Vector.tabulate(n) { i =>
      val prev =
        if (i > 0) { if (storedPrev(i) == pn(i - 1)) pn(i - 1) else PulseChain.Unknown }
        else prevOfLo
      val next =
        if (i < n - 1) { if (storedPrev(i + 1) == pn(i)) pn(i + 1) else PulseChain.Unknown }
        else nextOfHi
      Rows.row(schema, asc(i).toSeq.updated(prevIdx, prev).updated(nextIdx, next))
    }
  }

  /** GET /pulses/{pulse} — point lookup ([[pulseRows]] as a frame). */
  def pulse(spark: SparkSession, dir: String, pulseNumber: Long): DataFrame =
    pulseRows(spark, dir, pulseNumber).toDataFrame(spark)

  /** GET /pulses/{pulse} in the driver: the pulse's row, no row when it
    * is absent (the caller 404s). `GetPulse` (`etl/storage/storage.go:
    * 286-300`) repairs BOTH links with point probes before returning:
    * `next` is the pulse whose stored prev points here (`updateNextPulse`,
    * first match in pulse order, else -1) and `prev` is the stored prev
    * only if that pulse actually exists (`updatePrevPulse`, else -1). Both
    * answered by the driver-held chain index. On a store the row comes
    * from the pulse's one `pulse_bucket` partition of the index's own
    * pulses snapshot, read in the driver ([[StoreViews.pulsesOf]]), and
    * the request runs no Spark job and builds no plan; on the corpus the
    * pruned row collect is its only job.
    */
  def pulseRows(spark: SparkSession, dir: String, pulseNumber: Long): Rows = {
    val chain = Domain.pulseChainIndex(spark, dir)
    val fetched =
      if (StoreViews.isStore(spark, dir)) StoreViews.pulsesOf(spark, dir, chain, Seq(pulseNumber))
      else Rows.collect(pulsesView(spark, dir).filter(col("pulse_number") === pulseNumber).limit(1))
    val row = fetched.copy(rows = fetched.rows.take(1))
    chain.storedPrev(pulseNumber) match {
      case None => row
      case Some(storedPrev) =>
        val next = chain.nextByPrev(pulseNumber).getOrElse(PulseChain.Unknown)
        val prev = if (chain.exists(storedPrev)) storedPrev else PulseChain.Unknown
        row.map(row.schema)(_.toSeq
          .updated(row.at("next_pulse_number"), next)
          .updated(row.at("prev_pulse_number"), prev))
    }
  }

  /** GET /pulses/{pulse}/jet-drops ([[jetDropsByPulseRows]] as a frame). */
  def jetDropsByPulse(spark: SparkSession, dir: String, pulseNumber: Long,
      fromJetId: Option[String] = None, page: PageParams = PageParams()): DataFrame =
    jetDropsByPulseRows(spark, dir, pulseNumber, fromJetId, page).toDataFrame(spark)

  /** GET /pulses/{pulse}/jet-drops in the driver — drops of one pulse,
    * jet-id cursor, in the API shape. Paged with the carried-total
    * sentinel ([[Pagination.pageRows]]) like every offset-capable list
    * endpoint: an offset past the end still answers the true filtered
    * total. The drops come from the pulse's one `pulse_number` partition
    * read in the driver on a store ([[StoreViews.jetDropsOf]]: no Spark
    * job, no plan), from one collect of the pulse's drops on the corpus;
    * the cursor, the count, the sort and the cut then run on those rows.
    */
  def jetDropsByPulseRows(spark: SparkSession, dir: String, pulseNumber: Long,
      fromJetId: Option[String] = None, page: PageParams = PageParams()): Rows = {
    val drops =
      if (StoreViews.isStore(spark, dir))
        StoreViews.jetDropsOf(spark, dir, Domain.pulseChainIndex(spark, dir), Seq(pulseNumber))
      else Rows.collect(dropsView(spark, dir).filter(col("pulse_number") === pulseNumber))
    val jet = drops.at("jet_id")
    val cursored = fromJetId.fold(drops)(j => drops.filter(r =>
      !r.isNullAt(jet) && Pagination.compareStrings(r.getString(jet), j) >= 0))
    Mappers.jetDropToApi(Pagination.pageRows(cursored,
      Pagination.ordering(cursored.schema, "jet_id" -> true), page.limit, page.offset))
  }

  /** GET /jet-drops/{jet_drop_id} ([[jetDropByIdRows]] as a frame). */
  def jetDropById(spark: SparkSession, dir: String, jetDropId: String): Option[DataFrame] =
    jetDropByIdRows(spark, dir, jetDropId).map(_.toDataFrame(spark))

  /** GET /jet-drops/{jet_drop_id} in the driver — point lookup by
    * "<jet>:<pulse>" (None when the id does not parse; no row when the
    * drop is absent), enriched with SIBLING-scoped prev/next drop links
    * like `GetJetDropByID` (`etl/storage/storage.go:496-531`): next drops
    * live at the probed next pulse (`updateNextPulse` — the pulse whose
    * stored prev points here; skipped when none), prev drops at the
    * STORED prev pulse (no existence repair there), both restricted to
    * the jet's sibling set {self, self+"0", self+"1", parent}
    * (`models.Siblings()`, `etl/models/models.go:57-64`). Note this
    * differs from the by-jet-id LIST endpoint, which links by drop
    * hashes — the reference ships both semantics and so do we. The two
    * chain questions answer from the driver-held index. The drop and its
    * sibling drops are read at once: on a store from one jet_drops
    * snapshot, in the driver, from the partitions of the drop's pulse,
    * its stored prev and its next pulse, keeping only the sibling jets
    * ([[StoreViews.jetDropsOf]]: no Spark job, no plan); on the corpus by
    * one collect of the same keys.
    */
  def jetDropByIdRows(spark: SparkSession, dir: String, jetDropId: String): Option[Rows] =
    Codecs.parseJetDropId(jetDropId).map { case (jet, pulse) =>
      jetDropByKey(spark, dir, jet, pulse)
    }

  /** [[jetDropByIdRows]] past the id parse — also the [[search]] dispatch
    * target, which already HOLDS the parsed (jet, pulse) and must not
    * re-render and re-parse the id (a render/parse divergence would
    * surface as a serve-time NoSuchElementException).
    */
  private def jetDropByKey(spark: SparkSession, dir: String,
      jet: String, pulse: Long): Rows = {
    // both point queries the reference makes (the stored prev and the
    // updateNextPulse successor probe) answer from the driver-held chain
    // index, resolved once — zero extra Spark jobs
    val chain = Domain.pulseChainIndex(spark, dir)
    val storedPrev = chain.storedPrev(pulse)
    val nextPulse = chain.nextByPrev(pulse)
    val keys = pulse +: storedPrev.toSeq.flatMap(prev => prev +: nextPulse.toSeq)
    val siblings = JetFunctions.jetLinkCandidates(jet)
    val drops =
      if (StoreViews.isStore(spark, dir))
        StoreViews.jetDropsOf(spark, dir, chain, keys, Some(siblings.toSet))
      else Rows.collect(dropsView(spark, dir)
        .filter(col("pulse_number").isin(keys: _*) && col("jet_id").isin(siblings: _*)))
    val (pn, j) = (drops.at("pulse_number"), drops.at("jet_id"))
    drops.rows.find(r => r.getLong(pn) == pulse && r.getString(j) == jet) match {
      case None => Mappers.jetDropToApi(Rows.empty(drops.schema))
      case Some(row) =>
        def linksAt(p: Long) = drops.rows.filter(_.getLong(pn) == p)
          .map(r => Mappers.link(r.getString(j), p)).sortBy(_.getString(0))
        val (prevLinks, nextLinks) = storedPrev match {
          case None => (Vector.empty, Vector.empty)
          case Some(prev) => (linksAt(prev), nextPulse.fold(Vector.empty[Row])(linksAt))
        }
        Mappers.jetDropToApi(Rows(drops.schema, Vector(row)).append(
          StructField("prev_jet_drop_id", Mappers.LinkArray, nullable = false),
          StructField("next_jet_drop_id", Mappers.LinkArray, nullable = false))(
          _ => Seq(prevLinks, nextLinks)))
    }
  }

  /** GET /jet-drops/{jet_drop_id}/records ([[jetDropRecordsRows]] as a frame). */
  def jetDropRecords(spark: SparkSession, dir: String, jetDropId: String,
      fromIndex: Option[String] = None, page: PageParams = PageParams(),
      recordType: Option[String] = None): Option[DataFrame] =
    jetDropRecordsRows(spark, dir, jetDropId, fromIndex, page, recordType).map(_.toDataFrame(spark))

  /** GET /jet-drops/{jet_drop_id}/records in the driver — records of one
    * drop, keyset, carried-total page (None when the id does not parse).
    * `recordType` narrows to one of request/result/state
    * (`api/handlers.go:108-118`); validation of the enum is the HTTP
    * frame's job, like the reference's. On a store the records come from
    * the drop's one `pulse_number` partition read in the driver
    * ([[StoreViews.recordsOf]], which keeps the drop's jet before hashing
    * anything): no Spark job, no plan. On the corpus they come from one
    * collect of the drop's records. The type and cursor filters, the
    * count and the page cut then run on those rows.
    */
  def jetDropRecordsRows(spark: SparkSession, dir: String, jetDropId: String,
      fromIndex: Option[String] = None, page: PageParams = PageParams(),
      recordType: Option[String] = None): Option[Rows] =
    Codecs.parseJetDropId(jetDropId).map { case (jet, pulse) =>
      val cursor = parsedCursor(fromIndex)
      val records =
        if (StoreViews.isStore(spark, dir)) StoreViews.recordsOf(spark, dir, pulse, jet)
        else Rows.collect(recordsView(spark, dir)
          .filter(col("pulse_number") === pulse && col("jet_id") === jet))
      val (typ, pn, order) = (records.at("type"), records.at("pulse_number"), records.at("order"))
      val typed = recordType.fold(records)(t => records.filter(r => t == r.getString(typ)))
      // the asc keyset predicate (Predicates.keysetFrom): past (p, o)
      val cursored = cursor.fold(typed) { case (p, o) =>
        typed.filter(r => !r.isNullAt(pn) && (r.getLong(pn) > p ||
          r.getLong(pn) == p && !r.isNullAt(order) && r.getAs[Number](order).longValue >= o))
      }
      Pagination.pageRows(cursored, Pagination.ordering(cursored.schema,
        "pulse_number" -> true, "order" -> true, "reference" -> true), page.limit, page.offset)
    }

  /** GET /jet-drops/by-jet-id ([[jetDropsByJetIdRows]] as a frame). */
  def jetDropsByJetId(spark: SparkSession, dir: String, jetPrefix: String,
      fromPulse: Option[Long] = None, toPulse: Option[Long] = None,
      pulseAsc: Boolean = true, limit: Int = 1000,
      withLinks: Boolean = true): DataFrame =
    jetDropsByJetIdRows(spark, dir, jetPrefix, fromPulse, toPulse, pulseAsc, limit, withLinks)
      .toDataFrame(spark)

  /** GET /jet-drops/by-jet-id — subtree+ancestors over a pulse range,
    * mixed two-key sort (limit-only, default 1000, like the reference),
    * enriched with the J5 prev/next jet-drop id lists via hash linkage
    * (`api/handlers.go:207-297`), in the API shape: the page is one
    * Spark plan (a pruned top-k scan) collected once, and its links are
    * built in the driver from the page rows and the drops of its two
    * edge pulses.
    */
  def jetDropsByJetIdRows(spark: SparkSession, dir: String, jetPrefix: String,
      fromPulse: Option[Long] = None, toPulse: Option[Long] = None,
      pulseAsc: Boolean = true, limit: Int = 1000,
      withLinks: Boolean = true): Rows = {
    require(Pagination.validLimit(limit), s"limit must be in [1,1000]: $limit")
    lazy val chain = Domain.pulseChainIndex(spark, dir)
    // over a store, drop hashes from the chain index's own pulses
    // snapshot, the version the edge pulses below come from
    val d =
      if (StoreViews.isStore(spark, dir)) StoreViews.jetDrops(spark, dir, chain.pulses)
      else dropsView(spark, dir)
    val filtered = d
      .filter(Predicates.range(col("pulse_number"), gte = fromPulse, lte = toPulse))
      .filter(JetFunctions.jetTreePredicate(col("jet_id"), jetPrefix))
    val sorted =
      if (pulseAsc) Seq(col("pulse_number").asc, col("jet_id").desc)
      else Seq(col("pulse_number").desc, col("jet_id").asc)
    val paged = Pagination.pageWithTotal(filtered, sorted, limit)
    Mappers.jetDropToApi(if (!withLinks) Rows.collect(paged) else {
      // Materialize the ≤1000-row page ONCE (the reference holds the page
      // rows in memory the same way, handlers.go:207-223): one distributed
      // job produces the page, and the links are driver maps over it.
      val page = Rows.collect(paged.withColumn("jet_drop_id",
        Codecs.jetDropIdString(col("jet_id"), col("pulse_number"))))
      val pageRows = page.rows
      // empty page: no rows in the SAME linked schema the populated
      // branch returns (jet_drop_id + next_ids/prev_ids) — a
      // data-dependent schema would break any consumer unioning pages or
      // selecting link columns across requests
      if (pageRows.isEmpty) Rows.empty(linkedSchema(page.schema))
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
        val prevEdge = chain.storedPrev(lo).filter(_ > 0).filter(chain.exists)
        val nextEdge = chain.nextSavedAfter(hi)
        val edgePulses = prevEdge.toSeq ++ nextEdge.toSeq
        // link assembly is the reference's in-memory map build
        // (createNextPrevMaps, handlers.go:269-297) over bounded inputs:
        // the ≤1000 collected page rows plus one collect of the two edge
        // pulses' drops — driver maps, zero joins, exactly the J5
        // hash-link semantics JetLinkage.hashLinkIds pins distributively
        // for the oracle twin (be_jet_links_hash)
        val (idI, hI, fpI, spI) = (page.at("jet_drop_id"), page.at("hash"),
          page.at("first_prev_hash"), page.at("second_prev_hash"))
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
        page.map(linkedSchema(page.schema)) { r =>
          val nextIds = idsByPrevHash.getOrElse(r.getString(hI), Vector.empty[String])
            .sorted.mkString(",")
          val prevIds = Seq(r.getString(fpI), r.getString(spI)).filter(_ != null).distinct
            .flatMap(h => idsByHash.getOrElse(h, Vector.empty[String]))
            .sorted.mkString(",")
          r.toSeq :+ nextIds :+ prevIds
        }
      }
    })
  }

  private def linkedSchema(page: StructType) = StructType(page.fields ++ Seq(
    StructField("next_ids", StringType, nullable = false),
    StructField("prev_ids", StringType, nullable = false)))

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
        ("jet_drop", jetDropByKey(spark, dir, jet, p).toDataFrame(spark))
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
