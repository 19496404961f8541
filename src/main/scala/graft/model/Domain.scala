package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.JetFunctions
import graft.operators.Completeness

/** Block-explorer domain views derived deterministically from the driver's
  * testdata. The `events` stream plays the role of the ledger record feed
  * (reference data model: `etl/models/models.go:31-75`):
  *
  *  - record reference  = event_id
  *  - record type       = event_type mapped onto {state, request, result}
  *  - object lifeline   = user_id
  *  - pulse_number      = 1-hour bucket of the event time (the "~10s slot"
  *                        of the reference, scaled so pulses hold ~14 rows)
  *  - jet_id            = depth-3 bit prefix of user_id (8 leaf jets)
  *  - order             = row_number within the (pulse, jet) drop (W7)
  *
  * Every derivation is integer-exact (`DIV`, `bin`, `lpad`) so a DuckDB
  * oracle can reproduce it bit-for-bit. All views are lazy DataFrames over
  * the parquet scan — filters/pruning push down through them.
  */
object Domain {

  /** 1 pulse = 1 hour of event time, in nanoseconds. */
  val PulseNs: Long = 3600000000000L
  val SecNs: Long = 1000000000L

  /** Relation-cached read, drift-normalized: the resolved file index is
    * reused across queries (serving-layer behavior) while pruning/pushdown
    * still plan per query — see [[graft.sources.RelationCache]]. EVERY
    * table read routes through [[DriftAdapters.normalize]], so a
    * regenerated parquet with a changed physical type surfaces as a
    * coercion (or a loud failure) here, never as a mid-round schema
    * mismatch in some downstream view. For the events feed the
    * drift-defense session configs must already be in place (they change
    * how the scan itself resolves) — asserted, not set: see
    * [[graft.Sessions.assertDriftConfs]].
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") graft.Sessions.assertDriftConfs(spark)
    val path = s"$dir/$name.parquet"
    DriftAdapters.normalize(name, path, graft.sources.RelationCache.parquet(spark, path))
  }

  /** Row count of a [[table]] frame summed from the parquet footers of
    * its relation's files: metadata reads only, no Spark job. Exact for
    * an unfiltered table, since every [[DriftAdapters.normalize]] step is
    * a projection.
    */
  def footerRows(df: DataFrame): Long = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    df.inputFiles.iterator.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.net.URI(f)), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** The event feed with `ts` normalized to LongType epoch NANOS — the
    * representation every downstream view and oracle assumes (`ts DIV
    * PulseNs` etc., DuckDB `epoch_ns(ts)`). Physical-form drift handling
    * lives in [[DriftAdapters.normalizeEvents]].
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")

  /** [[events]] restricted to pulses `[fromPulse, untilPulse)`, with the
    * bound applied to the RAW `ts` column in its resolved physical type —
    * so it reaches the parquet scan as a pushed row-group filter under
    * every drift form. A bound on the normalized epoch-nanos column would
    * sit above the type-branching projection, where Catalyst cannot push
    * arithmetic back through the cast; for serving shapes whose neighbor
    * scans must stay page-bounded at 100 TB (J4, `be_jet_links`) that is
    * the difference between reading a dozen row groups and the corpus.
    * Pulse boundaries are whole seconds, so every unit's literal is exact.
    */
  def eventsInPulseRange(spark: SparkSession, dir: String,
      fromPulse: Long, untilPulse: Long): DataFrame = {
    graft.Sessions.assertDriftConfs(spark)
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$dir/events.parquet"
    val raw = graft.sources.RelationCache.parquet(spark, path)
    val loNs = fromPulse * PulseNs
    val hiNs = untilPulse * PulseNs
    val bounded = raw.schema("ts").dataType match {
      case LongType =>
        val m = DriftAdapters.longTsNanosMultiplier(path, raw)
        raw.filter(col("ts") >= lit(loNs / m) && col("ts") < lit(hiNs / m))
      case TimestampNTZType =>
        raw.filter(col("ts") >= lit(ntzLiteral(loNs)) && col("ts") < lit(ntzLiteral(hiNs)))
      case TimestampType =>
        raw.filter(col("ts") >= lit(java.time.Instant.ofEpochSecond(loNs / SecNs)) &&
          col("ts") < lit(java.time.Instant.ofEpochSecond(hiNs / SecNs)))
      case _ => raw // unknown form: normalization below still bounds correctness-wise
    }
    DriftAdapters.normalizeEvents(path, bounded)
      .filter(col("ts") >= lit(loNs) && col("ts") < lit(hiNs))
  }

  private def ntzLiteral(ns: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(ns / SecNs, (ns % SecNs).toInt,
      java.time.ZoneOffset.UTC)

  /** The embedding corpus with `embedding` normalized to ARRAY<FLOAT> —
    * the element type every vector kernel (native expressions included)
    * and centroid-literal oracle assumes. Drift handling:
    * [[DriftAdapters.normalizeEmbeddings]].
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  /** The document corpus under its canonical logical schema
    * ([[DriftAdapters.normalizeDocuments]]).
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  /** The `records` fact view (reference: `etl/models/models.go:31-44`). */
  def records(spark: SparkSession, dir: String): DataFrame = {
    val base = events(spark, dir).select(
      col("event_id").as("reference"),
      when(col("event_type").isin("view", "click"), "state")
        .when(col("event_type").isin("signup", "purchase"), "request")
        .otherwise("result").as("type"),
      col("user_id").as("object_reference"),
      expr(s"CAST(ts DIV $PulseNs AS BIGINT)").as("pulse_number"),
      expr(s"CAST(ts DIV $SecNs AS BIGINT)").as("ts_sec"),
      // pmod, not %: Spark's % keeps the dividend's sign, and bin() of a
      // negative is a 64-char two's-complement string that lpad would
      // TRUNCATE to "111" — a negative user_id (legal for the signed
      // column) must map into the same 8 jets as everyone else
      lpad(bin(pmod(col("user_id"), lit(8))), 3, "0").as("jet_id"),
      col("event_type"),
      col("value"),
      col("ts"),
      col("event_id"))
    // W7 — deterministic order within the (pulse, jet) drop.
    val w = Window.partitionBy(col("pulse_number"), col("jet_id"))
      .orderBy(col("ts"), col("event_id"))
    base.withColumn("order", row_number().over(w)).drop("ts", "event_id")
  }

  /** The `jet_drops` view (A2): per-(pulse, jet) blocks with an md5 content
    * hash used by the J4/J5 linkage queries. `first_prev_hash` links each
    * drop to its same-jet predecessor one pulse earlier (the reference's
    * parent-drop pointer, `etl/models/models.go:46-55`).
    *
    * Jet MERGES (the reference's two-parent case, `etl/models/models.go:
    * 57-64`, consumed by `createNextPrevMaps`, `api/handlers.go:269-297`):
    * on every 4th pulse the drop tree is depth-2 — sibling depth-3 jets
    * land in ONE drop whose two parents are the depth-3 drops of the
    * previous pulse, so `first_prev_hash`/`second_prev_hash` carry both
    * child hashes. The pulse after a merge is a split: its depth-3 drops
    * all point at the one depth-2 parent. Records keep their depth-3
    * `jet_id` (storage layout and completeness are record-level); only the
    * drop blocks coarsen.
    */
  def jetDrops(records: DataFrame): DataFrame = {
    val merged = isMergePulse(col("pulse_number"))
    val prevMerged = col("pulse_number") % JetMergeCadence === 1
    records
      .withColumn("jet_id", coarsenedJetId(col("pulse_number"), col("jet_id")))
      .groupBy(col("pulse_number"), col("jet_id"))
      .agg(count(lit(1)).as("record_amount"), min(col("ts_sec")).as("timestamp"))
      .withColumn("hash", md5(concat_ws(":", col("jet_id"), col("pulse_number"))))
      .withColumn("first_prev_hash",
        when(merged,
          md5(concat_ws(":", concat(col("jet_id"), lit("0")), col("pulse_number") - 1)))
        .when(prevMerged,
          md5(concat_ws(":", substring(col("jet_id"), 1, 2), col("pulse_number") - 1)))
        .otherwise(md5(concat_ws(":", col("jet_id"), col("pulse_number") - 1))))
      .withColumn("second_prev_hash",
        when(merged,
          md5(concat_ws(":", concat(col("jet_id"), lit("1")), col("pulse_number") - 1)))
        .otherwise(lit(null).cast("string")))
  }

  // ---------------- materialized serving spine ----------------

  /** Root for the per-corpus spine artifacts. Shares the fingerprinted
    * scratch root with the ANN indexes ([[graft.vector.AnnIndex.indexRoot]])
    * so regenerated source data rebuilds under a new path, never serving
    * stale rows. The schema version is part of the path for the same
    * reason in the other direction: a spine column added by a code change
    * (v2: `result_amount` on pulses) must rebuild rather than serve an
    * artifact written by the previous build.
    */
  def spineRoot(dir: String): String =
    graft.vector.AnnIndex.indexRoot(dir) + "/spine-v3" // v3: coarsened jet_drop_amount

  /** The records fact, persisted ONCE per corpus and served from parquet
    * thereafter — the reference's actual storage shape: row order and
    * counters are maintained at WRITE time (`etl/storage/storage.go:56-60`),
    * never recomputed per read. The lazy [[records]] view stays the
    * definition (and the builder); the read endpoints serve THIS. Rows are
    * range-clustered and sorted by (pulse, jet, order) so the pulse-range
    * and keyset predicates of every list endpoint prune via parquet
    * row-group stats instead of re-scanning the event feed.
    */
  def servedRecords(spark: SparkSession, dir: String): DataFrame =
    // an ingest-written store IS the spine already — the daemon's commit
    // path wrote it pulse-partitioned and (jet, order)-sorted; no
    // derived artifact to build (StoreViews for the layout contract)
    if (StoreViews.isStore(spark, dir)) StoreViews.records(spark, dir)
    else graft.sources.StandingArtifact.ensure(spark, spineRoot(dir) + "/records") {
      records(spark, dir)
        .repartitionByRange(col("pulse_number"), col("jet_id"))
        .sortWithinPartitions("pulse_number", "jet_id", "order")
    }

  /** The jet_drops dimension, persisted once per corpus (built from the
    * records spine so the W7 window never re-runs).
    */
  def servedJetDrops(spark: SparkSession, dir: String): DataFrame =
    if (StoreViews.isStore(spark, dir)) StoreViews.jetDrops(spark, dir)
    else graft.sources.StandingArtifact.ensure(spark, spineRoot(dir) + "/jet_drops") {
      jetDrops(servedRecords(spark, dir))
        .repartitionByRange(col("pulse_number"))
        .sortWithinPartitions("pulse_number", "jet_id")
    }

  /** The pulses dimension, persisted once per corpus. Tiny (one row per
    * pulse — time-bounded, not data-bounded), so a single sorted file.
    */
  def servedPulses(spark: SparkSession, dir: String): DataFrame =
    if (StoreViews.isStore(spark, dir)) StoreViews.pulses(spark, dir)
    else graft.sources.StandingArtifact.ensure(spark, spineRoot(dir) + "/pulses") {
      pulses(servedRecords(spark, dir))
        .repartition(1)
        .sortWithinPartitions("pulse_number")
    }

  /** Driver-held pulse-chain index over the pulses spine: sorted primitive
    * arrays answering the four point questions every serving endpoint asks
    * — does pulse P exist, what is its stored prev, which pulse's stored
    * prev points at P (`updateNextPulse`), and what is the next saved
    * pulse after P (`GetNextSavedPulse`) — in O(log n) driver time with
    * ZERO Spark jobs. The chain dimension grows with wall-clock time, not
    * data volume (one row per 10s pulse ≈ 3M rows/year ≈ 50 MB/decade as
    * two long arrays), so holding it on the driver is scale-safe where
    * caching any fact-derived structure would not be. Over a store,
    * `pulses` is the pulses-table snapshot the index was built from (None
    * on the corpus, and for a store with no pulses manifest): the routes
    * read every pulses row they serve through it, so rows and index are
    * one version.
    */
  final class PulseChainIndex(byPulse: Array[Long], prevOfPulse: Array[Long],
      byPrev: Array[Long], pulseOfPrev: Array[Long],
      val pulses: Option[graft.ingest.TableManifest.Snapshot] = None) {
    def size: Int = byPulse.length
    def exists(pn: Long): Boolean = java.util.Arrays.binarySearch(byPulse, pn) >= 0
    def storedPrev(pn: Long): Option[Long] = {
      val i = java.util.Arrays.binarySearch(byPulse, pn)
      if (i >= 0) Some(prevOfPulse(i)) else None
    }
    /** Smallest pulse whose stored prev == pn (`updateNextPulse`'s First). */
    def nextByPrev(pn: Long): Option[Long] = {
      var i = java.util.Arrays.binarySearch(byPrev, pn)
      if (i < 0) None
      else {
        while (i > 0 && byPrev(i - 1) == pn) i -= 1 // leftmost == min pulse (sorted pairs)
        Some(pulseOfPrev(i))
      }
    }
    /** Smallest saved pulse strictly greater than pn (`GetNextSavedPulse`). */
    def nextSavedAfter(pn: Long): Option[Long] = {
      val i = java.util.Arrays.binarySearch(byPulse, pn + 1)
      val at = if (i >= 0) i else -(i + 1)
      if (at < byPulse.length) Some(byPulse(at)) else None
    }

    // -- page algebra over the sorted pulse array: the pulses-list
    // endpoint's total and page cut are POSITIONS in this array, so a
    // pulse-bounded page needs no scan of the dimension at all (the
    // index is already maintained, version-fresh, and O(pulses) —
    // time-bounded, not data-bounded). Timestamp bounds are NOT
    // answerable here (the index holds pulse numbers only); those pages
    // keep the scan path.

    private def lowerBound(x: Long): Int = {
      val i = java.util.Arrays.binarySearch(byPulse, x)
      if (i >= 0) i else -(i + 1)
    }

    /** Saved pulses within the optional [gte, lte] pulse bounds — the
      * A3 `total` of a pulse-bounded pulses page, zero Spark jobs.
      */
    def countInRange(gte: Option[Long], lte: Option[Long]): Long = {
      val lo = lowerBound(gte.getOrElse(Long.MinValue))
      val hi = lte.fold(byPulse.length)(t =>
        if (t == Long.MaxValue) byPulse.length else lowerBound(t + 1))
      math.max(0, hi - lo).toLong
    }

    /** The EXACT pulse numbers of one page over the bounded dimension
      * in the endpoint's (asc|desc, offset, limit) order — returned
      * ASCENDING (callers re-order their rows anyway). Empty when the
      * offset runs past the bounded set (→ total-only sentinel).
      */
    def pageSlice(gte: Option[Long], lte: Option[Long], asc: Boolean,
        offset: Int, limit: Int): Array[Long] = {
      val lo = lowerBound(gte.getOrElse(Long.MinValue)).toLong
      val hi = lte.fold(byPulse.length)(t =>
        if (t == Long.MaxValue) byPulse.length else lowerBound(t + 1)).toLong
      // Long window math: a hostile offset near Int.MaxValue must fall
      // out as an empty page, never wrap into a wrong one
      val (from, until) =
        if (asc) (lo + offset, math.min(hi, lo + offset.toLong + limit))
        else (math.max(lo, hi - offset.toLong - limit), hi - offset)
      if (from >= until || until <= lo || from >= hi) Array.emptyLongArray
      else java.util.Arrays.copyOfRange(byPulse,
        math.max(lo, from).toInt, math.min(hi, until).toInt)
    }
  }

  object PulseChainIndex {
    /** The index over (pulse_number, stored prev_pulse_number) pairs. */
    def apply(pairs: Array[(Long, Long)],
        pulses: Option[graft.ingest.TableManifest.Snapshot] = None): PulseChainIndex = {
      val byPulse = pairs.sortBy(_._1)
      val byPrev = pairs.sortBy(p => (p._2, p._1))
      new PulseChainIndex(byPulse.map(_._1), byPulse.map(_._2),
        byPrev.map(_._2), byPrev.map(_._1), pulses)
    }
  }

  private val chainCache =
    new java.util.concurrent.ConcurrentHashMap[String, PulseChainIndex]()
  private val storeChainCache =
    new java.util.concurrent.ConcurrentHashMap[String, PulseChainIndex]()

  /** The chain index of `dir`. An ingest store is LIVE (the daemon
    * flushes its pulses table between requests), so its index is cached
    * with the pulses snapshot it was built from and rebuilt, from that
    * snapshot's files read in the driver ([[StoreViews.pulseLinks]]),
    * whenever the newest snapshot differs: each call costs one
    * `_manifests/` listing (the parse is memoized) and never a Spark job.
    * A request calls this ONCE and reads the pulses rows it serves from
    * the index's own snapshot. The corpus spine is immutable, so its
    * index is collected once per fingerprinted spine path (a regenerated
    * corpus rebuilds it with the artifact).
    */
  def pulseChainIndex(spark: SparkSession, dir: String): PulseChainIndex =
    if (StoreViews.isStore(spark, dir)) {
      val snap = graft.ingest.TableManifest.snapshot(spark, s"$dir/pulses")
      val cached = storeChainCache.get(dir)
      if (cached != null && cached.pulses == snap) cached
      else {
        val idx = PulseChainIndex(StoreViews.pulseLinks(spark, dir, snap), snap)
        storeChainCache.put(dir, idx)
        idx
      }
    }
    else chainCache.computeIfAbsent(spineRoot(dir), _ => PulseChainIndex(
      servedPulses(spark, dir).select(col("pulse_number"), col("prev_pulse_number"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))))

  /** A decoded 36-byte wire/base58 reference to the serving key space of
    * `dir`: an ingest store keys every reference as xxhash64 of the
    * stored bytes ([[StoreViews.refKey]], what `functions.xxhash64`
    * computes with its seed 42); the testdata corpus synthesizes its
    * 36-byte refs FROM the numeric id, whose low 8 bytes invert the
    * synthesis. Without the store branch, base58 lifeline/search lookups
    * over a store could never match anything.
    */
  def refToKey(spark: SparkSession, dir: String, ref: Array[Byte]): Long =
    if (StoreViews.isStore(spark, dir)) StoreViews.refKey(ref)
    else java.nio.ByteBuffer.wrap(ref.takeRight(8)).getLong

  /** Register the three domain tables as temp views (plus the library's
    * native SQL functions), so SQL-first users query `records`,
    * `jet_drops` and `pulses` directly with `spark.sql` — the relational
    * surface a reference user expects from their PostgreSQL schema.
    * Views are lazy DataFrames: filters still push down to the scan.
    */
  def createViews(spark: SparkSession, dir: String): Unit = {
    // the SQL surface serves the MATERIALIZED spine, same as the
    // endpoints: a view over the lazy builders would re-run the W7
    // window per query AND block predicate pushdown at the window
    // boundary (a filter cannot cross row_number), so every SQL filter
    // would rescan the whole fact — the exact per-read recomputation the
    // spine exists to avoid at 100 TB
    servedRecords(spark, dir).createOrReplaceTempView("records")
    servedJetDrops(spark, dir).createOrReplaceTempView("jet_drops")
    servedPulses(spark, dir).createOrReplaceTempView("pulses")
    graft.GraftExtensions.installInto(spark)
  }

  /** Every [[JetMergeCadence]]-th pulse coarsens its drop tree to depth 2
    * (the jet-merge case). ONE definition for the drop view and the
    * counter aggregate below: the two coarsenings previously duplicated
    * this expression, and a cadence/depth change missing one site would
    * silently desynchronize `jet_drop_amount` from the pulse's own drop
    * list — the exact disagreement the counter's comment warns against.
    */
  private val JetMergeCadence = 4
  private def isMergePulse(pulse: Column): Column =
    pulse % JetMergeCadence === 0
  private def coarsenedJetId(pulse: Column, jetId: Column): Column =
    when(isMergePulse(pulse), substring(jetId, 1, 2)).otherwise(jetId)

  /** The `pulses` dimension (A1 counters + ST2 completeness + sequence).
    * Stored prev/next follow the hourly ledger contract (pulse ± 1); reads
    * never trust them and re-derive links per page (J3).
    *
    * Deliberate semantic split, for the record: `is_complete` is computed
    * over the RAW depth-3 record jets (the corpus fixture's completeness
    * notion — the oracle twin agrees), while `jet_drop_amount` counts the
    * merge-COARSENED saved drops; on a merge pulse with one empty sibling
    * the two can disagree (complete drop list, incomplete record cover).
    * The daemon's live register implements the reference's drops-based
    * semantics (`pulsemaintainer.go:145-212`); this view is the corpus
    * twin whose truth is its own oracle. `is_sequential` likewise means
    * "every PRESENT earlier pulse is complete" — the corpus has inherent
    * gaps (events-derived pulses are sparse), so chain-contiguity would
    * mark everything non-sequential; the daemon's sequencer owns the real
    * chain semantics.
    */
  def pulses(records: DataFrame): DataFrame = {
    val cover = udaf(graft.operators.JetCoverAggregator,
      org.apache.spark.sql.Encoders.STRING)
    val status = records.groupBy(col("pulse_number")).agg(
      // counts SAVED DROPS, so it must apply the same jet-merge
      // coarsening [[jetDrops]] applies (every 4th pulse merges to
      // depth-2) — counting raw record jets would disagree with the
      // pulse's own drop list (8 vs 4 on a merged pulse), and the
      // reference increments the counter once per saved jet drop
      countDistinct(coarsenedJetId(col("pulse_number"), col("jet_id")))
        .as("jet_drop_amount"),
      count(lit(1)).as("record_amount"),
      // per-type presence counters, materialized at build time so the
      // gap/status endpoints (ST3 `be_missing_pulses`) serve from the
      // pulse dimension instead of re-scanning + distinct-ing the fact
      count(when(col("type") === "result", lit(1))).as("result_amount"),
      min(col("ts_sec")).as("timestamp"),
      cover(col("jet_id")).as("is_complete"))
      .withColumn("prev_pulse_number", col("pulse_number") - 1)
      .withColumn("next_pulse_number", col("pulse_number") + 1)
    Completeness.withSequential(status)
  }
}
