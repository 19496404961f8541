package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.functions.JetFunctions
import graft.model.Schemas
import graft.ingest.{Canonicalize, GrpcTransport, PulseWriter, Resilience, TableManifest, Transport}

/** The ingest daemon binary — the reference's FIRST binary, the
  * `cmd/block-explorer/main.go:35-180` analog: connect to a live record
  * exporter over gRPC, follow the feed head pulse-by-pulse, and maintain
  * the three storage tables (records, jet_drops, pulses) with the
  * controller's background cadences until killed.
  *
  *   SPARK_GRAFT_EXPORTER_HOST=localhost SPARK_GRAFT_EXPORTER_PORT=8090 \
  *   SPARK_GRAFT_BASE_PATH=/data/graft SPARK_GRAFT_FROM_PULSE=65546 \
  *   sbt "runMain graft.Ingest"
  *
  * Three loops, exactly the reference's controller split
  * (`etl/controller/controller.go` + `pulsemaintainer.go:18-143`), with
  * the reference's default cadences (`configuration/configuration.go:
  * 116-122`: PulsePeriod 10 s, SequentialPeriod 1 s, ReloadPeriod
  * 1200 s):
  *
  *  - '''follower''' (the extractor's continuous pull,
  *    `etl/extractor/platform_impl.go:151-222`), two stages on two
  *    threads, like the reference's extractor → transformer → processor
  *    pipeline (`etl/processor/processor.go:59-95`). The follower thread
  *    fetches the pulse at the cursor through [[Transport.fetchPulse]]
  *    (portioned stream, resume cursor, end-of-pulse marker) and
  *    prepares it in the driver ([[PulseWriter.prepare]]: canonicalize,
  *    chain-sort, number, drop rows; no Spark). It hands the pulse to the
  *    writer thread, which writes it ([[PulseWriter.write]]: manifested
  *    partition replace, no Spark job) and registers it, and meanwhile
  *    moves its cursor by the exporter's iterate-from hint and fetches
  *    the next pulse. At most one write is in flight and the follower
  *    holds at most one prepared pulse: it waits for the previous write
  *    before handing over, so commits land in fetch order. `cursor` is
  *    thus the next pulse to FETCH, one pulse ahead of the committed
  *    state while a write is in flight. A failed write drops the prepared
  *    pulse and rewinds the cursor to the failed one. `NOT_FOUND` means
  *    the head is reached — sleep half a pulse and re-ask (the
  *    reference's `ContinuousPulseRetrievingHalfPulseSeconds`). A
  *    transport failure that outlives the in-fetch reopen budget leaves
  *    the cursor where it is and retries after a pause, so an exporter
  *    restart loses nothing: the managed channel reconnects and the
  *    portion protocol resumes at the record cursor.
  *  - '''maintainer''' (`pulseMaintainer`, every PulsePeriod): walk the
  *    OPEN set of the driver-held pulse register (the reference's
  *    `jetDropRegister` — populated at commit time for free from the
  *    pulse's own drop rows), mark pulses whose jet set forms a full
  *    binary-tree cover complete ([[JetFunctions.jetTreeCover]], ST2),
  *    re-request incomplete ones through the TTL-deduped reload
  *    ([[Resilience.MissedDataManager]], ST3 — `misseddata.go:60-95`),
  *    persist dirty pulses, and CLOSE flushed complete+sequential
  *    pulses out of the open set (the reference deletes them from its
  *    register the same way), so per-tick work is bounded by the open
  *    frontier, not the table's history.
  *  - '''sequencer''' (`pulseSequence`, every SequentialPeriod): advance
  *    the sequential high-water mark over chain-linked complete pulses —
  *    zero wait between consecutive advances, like the reference's
  *    `waitTime = 0` fast path; candidates are taken smallest-first so
  *    a backfilled chain advances deterministically — and on a stall
  *    re-request the open gap up to the next saved pulse
  *    (`pulsemaintainer.go:86-143`).
  *
  * Durability: the pulses dimension persists incrementally. On start
  * the register SEEDS from the existing `pulses`/`jet_drops` artifacts
  * (the reference reads the same state back from Postgres), so a
  * restart resumes the cursor, the sequential mark, and every open
  * pulse's jet cover instead of truncating history — and the seed is
  * BOUNDED by the open frontier, not the store's history: each flush
  * commits, in the same manifest as its rows, a
  * [[TableManifest.Summary]] of the complete∧sequential prefix (its
  * high-water mark and the first bucket holding an open pulse), and
  * seeding collects only the frontier buckets (see [[Daemon.seed]]; the
  * reference's controller likewise registers only incomplete pulses,
  * `etl/controller/controller.go:124-132`). Writes are manifested
  * replaces of whole `pulse_bucket` partitions (a bucket spans
  * [[Config.flushBucketSpan]] pulse numbers at first; the span is a
  * STORE property carried by the summary and coarsened by a seed-time
  * re-bucketing commit once history outgrows [[Config.maxPulseBuckets]]
  * dirs — see [[spanForExtent]]): a flush replaces only the buckets
  * containing changed pulses — bounded forever, however long the daemon
  * runs. The manifest publish is the only crash-safety protocol: data,
  * summary and layout change together or not at all. Every table the
  * daemon writes is manifested ([[TableManifest]]); a store written
  * before manifests is not read.
  *
  * 100 TB shape: the per-pulse record set is bounded by the pulse
  * cadence (the reference holds it in one goroutine's memory the same
  * way), so the spine chain-sorts it in the driver and the commit is
  * one single-file manifested replace per table, written from the
  * driver without a Spark job. The follower holds at most two pulses'
  * rows at once: the one being written and the one prepared next.
  * Driver memory holds one
  * [[PulseEntry]] per pulse seeded or ingested THIS run (~tens of
  * bytes each — bounded by the open frontier plus the run's own feed,
  * never by a decade of persisted history), and per-tick scanning and
  * flushing touch only the open frontier and dirty buckets.
  */
object Ingest {

  /** Controller cadences + transport knobs, reference defaults
    * (`configuration/configuration.go:62-122`).
    */
  final case class Config(
      pulsePeriodMs: Long = 10000L, // Controller.PulsePeriod (10 s)
      sequentialPeriodMs: Long = 1000L, // Controller.SequentialPeriod (1 s)
      reloadTtlMs: Long = 1200000L, // Controller.ReloadPeriod (1200 s)
      headPauseMs: Long = 5000L, // half a pulse at the feed head
      errorPauseMs: Long = 1000L, // pause after an exhausted fetch
      batchSize: Int = 100, // extractor portion size (main.go:79)
      fetchBackoffMs: Long = 200L, // in-fetch reopen backoff
      pulseDelta: Long = 10L,
      flushBucketSpan: Long = 100000L, // pulses-table partition span (base)
      maxPulseBuckets: Int = 64, // re-bucket the dimension past this many dirs
      headProbeAfter: Int = 3, // consecutive NOT_FOUNDs before probing past a hole
      headProbeSpan: Int = 8) // how many pulses ahead one probe looks

  /** Bucket span for a pulses dimension covering pulse numbers
    * [lo, hi]: the smallest power-of-ten multiple of `base` that keeps
    * the partition-directory count at or under `maxBuckets`.
    *
    * Why a store-size-dependent span is the DEFAULT (r15's serving
    * scale A/B, SCALE.md, wired in rather than left as an env knob):
    * the pulses dimension grows one row per 10 s pulse forever, and at
    * 5M pulses the fixed base span leaves 500 partition dirs
    * whose plan width is what the `GET /pulses` fast path pays — 10×
    * coarser buckets measured fast-warm 283 → 209 ms on the same store.
    * Coarser buckets cost nothing the other way at these sizes: a
    * bucket rewrite is the dirty-bucket flush unit, and even the 10×
    * span holds ≤ 100k pulses ≈ a few MB of rows per bucket. Bulk
    * builders size the span from the extent they are about to write;
    * the daemon adopts the span its pulses manifest's summary carries
    * and re-buckets at seed when history has outgrown it (see
    * [[Daemon.seed]]).
    */
  def spanForExtent(lo: Long, hi: Long, base: Long = 100000L,
      maxBuckets: Int = 64): Long = {
    require(base > 0 && maxBuckets > 0, s"spanForExtent($base, $maxBuckets)")
    var s = base
    while (hi / s - lo / s + 1 > maxBuckets && s <= Long.MaxValue / 10) s *= 10
    s
  }

  /** Driver-held register row: the reference's `jetDropRegister` entry
    * plus the pulse bookkeeping its storage rows carry. `jetDropAmount`
    * is carried separately from the `jets` cover set because a restarted
    * daemon seeds CLOSED pulses with an empty cover (their jets are
    * never re-checked) but must still rewrite their persisted drop count
    * faithfully when their bucket flushes.
    */
  final case class PulseEntry(
      prev: Long,
      jets: Set[String],
      jetDropAmount: Int,
      recordAmount: Long,
      resultAmount: Long,
      timestamp: Long,
      complete: Boolean,
      sequential: Boolean)

  /** A fetched pulse ready to write: its [[PulseWriter.prepare]]d rows
    * and its count of "result" records, the per-type presence counter the
    * pulses row persists for the status/gap views (the corpus spine
    * materializes the same column, Domain.pulses). "result" is the wire
    * union's own tag (Canonicalize F9 maps it 1:1), counted over the wire
    * rows.
    */
  private final case class Ready(pulse: Long, prepared: PulseWriter.Prepared, results: Long)

  /** The long-running daemon over any [[Transport.RecordStream]] — the
    * live gRPC wire in production ([[bootstrap]]), the replay harness in
    * specs and the bench. Callers own `start()`/`stop()`.
    */
  final class Daemon(
      spark: SparkSession,
      basePath: String,
      stream: Transport.RecordStream,
      fromPulse: Long,
      cfg: Config = Config()) {

    @volatile private var running = false
    @volatile private var cursorNow = fromPulse
    @volatile private var seqPulse = fromPulse - cfg.pulseDelta
    // `lock` guards the register bookkeeping (entries/open/dirty); the
    // store writes serialize on `writeLock` separately — each table has
    // ONE manifest writer, and two commits of one table racing would
    // both publish version v+1 from the same predecessor (the reference
    // funnels all writes through one storage transaction).
    // The two are never nested.
    private val lock = new Object
    // sorted so the chain-neighbor probes (maxBefore/minAfter) and the
    // per-bucket flush range scans stay O(log n)/O(bucket) however long
    // the daemon has been running — never O(entire history) per pulse
    private val entries = scala.collection.mutable.TreeMap.empty[Long, PulseEntry]
    private val open = scala.collection.mutable.TreeSet.empty[Long]
    private val dirty = scala.collection.mutable.Set.empty[Long]
    private val missed = new Resilience.MissedDataManager(cfg.reloadTtlMs)
    private val writeLock = new Object
    private var threads = Seq.empty[Thread]
    // the follower's writes run here, one at a time (see followLoop); its
    // one thread is created with the first write
    private var writer: java.util.concurrent.ExecutorService = _
    @volatile private var writerThread: Option[Thread] = None
    // the span the COMMITTED pulse_bucket= partitions were written with —
    // a STORE property, not a config constant: every dirty-bucket flush
    // must address the same partitions the data lives in, so the span
    // rides the manifest's summary and changes only through the
    // re-bucketing commit in [[seed]] (when history outgrows
    // cfg.maxPulseBuckets). A manifest without a summary (written before
    // summaries existed) recovers the span from its bucket dirs.
    @volatile private var bucketSpan: Long = cfg.flushBucketSpan

    // ---- observability (the spec's and main's read surface) ------------

    /** The next pulse the follower fetches: one pulse past the committed
      * state while a write is in flight, so wait for a commit on
      * [[ingestedCount]] or [[lastManifests]], never on this.
      */
    def cursor: Long = cursorNow
    def sequentialPulse: Long = seqPulse
    def snapshot: Map[Long, PulseEntry] = lock.synchronized(entries.toMap)
    def ingestedCount: Int = lock.synchronized(entries.size)
    private val commits = new java.util.concurrent.atomic.AtomicLong
    private val commitMs = new java.util.concurrent.atomic.AtomicLong
    private val fetchMs = new java.util.concurrent.atomic.AtomicLong
    private val prepareMs = new java.util.concurrent.atomic.AtomicLong
    /** `(pulse commits, their summed write wall milliseconds)` since start. */
    def commitStats: (Long, Long) = (commits.get, commitMs.get)
    /** `(summed fetch, summed prepare)` wall milliseconds since start: every
      * fetch, head polls and reloads included, and every prepared pulse.
      */
    def stageMs: (Long, Long) = (fetchMs.get, prepareMs.get)
    // table name → the manifest version this daemon last committed to it,
    // as the commit returned it; replaced under `writeLock`
    @volatile private var manifests = Map.empty[String, TableManifest.Snapshot]
    /** The manifest version this daemon last committed per table
      * (records, jet_drops, pulses) — held, not read back from the store.
      */
    def lastManifests: Map[String, TableManifest.Snapshot] = manifests

    /** One atomic sample of the register's bounded-frontier invariant
      * (the reference deletes completed pulses from its `jetDropRegister`,
      * `etl/controller/controller.go:124-132`): `(open set size, pulses
      * not yet complete+sequential, dirty rows)`. Steady state is
      * `open ≤ incomplete + dirty`; the only excursion is the maintainer
      * tick's own flush→close-out window (dirty clears at stage time,
      * eligible pulses leave `open` moments later), so soak specs assert
      * the bound holds again within one maintainer period.
      */
    def frontierStats: (Int, Int, Int) = lock.synchronized((
      open.size,
      entries.valuesIterator.count(e => !(e.complete && e.sequential)),
      dirty.size))

    // ---- seeding (restart resume) ---------------------------------------

    /** Rebuild the register from the persisted artifacts so a restarted
      * daemon RESUMES instead of truncating: pulse rows give prev/flags/
      * counters, the still-open pulses' jet covers reload from the
      * drops table (exactly those pulses' partitions), the sequential
      * mark is the max persisted sequential pulse, and the cursor starts
      * past the newest known pulse. Both reads take the files the
      * committed manifests name and read them in the driver
      * ([[TableManifest.readRows]]), so a start runs no Spark job and
      * builds no Catalyst plan.
      *
      * Bounded, not O(history): every flush commits a
      * [[TableManifest.Summary]] in the same manifest as its rows (the
      * complete∧sequential PREFIX collapsed to its high-water mark plus
      * the first bucket holding an open pulse), so seeding collects only
      * the frontier buckets — open pulses plus the handful of closed rows
      * sharing their buckets — never the closed history (the reference's
      * controller likewise holds only the incomplete set in its register,
      * `etl/controller/controller.go:124-132`). The closed prefix is
      * never needed in memory: completeness/sequence are prefix
      * properties, so every not-closed pulse a manifest names sits at or
      * above that manifest's frontier bucket, and the flush path only
      * ever rewrites buckets whose pulses are in the register (dirty ⊆
      * entries, and the seed collects frontier buckets WHOLE, so a
      * bucket rewrite can never drop closed siblings). The summary is
      * taken from the same register state as the rows it is published
      * with, so a crash at any instant leaves a committed version whose
      * summary describes its own rows. A manifest without a summary
      * (written before summaries existed) falls back to the full read
      * plus span recovery; a pulses table with no committed manifest
      * seeds nothing.
      *
      * Re-bucketing: once the committed layout holds more than
      * [[Config.maxPulseBuckets]] bucket dirs, the seed reads the whole
      * dimension and rewrites it at the extent-sized span as ONE commit
      * into the live table that drops every other partition. The fine
      * files become tombstones under [[TableManifest.RetentionMs]] like
      * any superseded file, so a read planned before the re-layout keeps
      * its files, and the manifest version keeps counting up. A crash
      * before that publish leaves the fine layout committed and the
      * coarse files unnamed; the next start deletes them as orphans and
      * re-runs the re-bucketing.
      */
    private def seed(): Unit = {
      // existence through the same Hadoop filesystem the reads/writes
      // resolve against — a java.io check would silently skip seeding on
      // any non-local default FS and the next flush would then overwrite
      // persisted buckets from an empty register
      val pulsesPath = new org.apache.hadoop.fs.Path(s"$basePath/pulses")
      val fs = pulsesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // an older build re-bucketed through a staged sibling table that it
      // swapped in by delete-then-rename; one left behind may hold the
      // only copy of the dimension, so seeding without it could lose rows
      val staged = new org.apache.hadoop.fs.Path(s"${pulsesPath}_migrating")
      if (fs.exists(staged))
        throw new IllegalStateException(s"$staged was left by an interrupted " +
          s"re-bucketing of an older build: if its _manifests/ holds a " +
          s"committed manifest it is the complete pulses table, so replace " +
          s"$pulsesPath with it; otherwise delete it. Then restart.")
      // files of a commit that died before its publish: no manifest names
      // them, and nothing writes to the store until this method returns
      Seq("records", "jet_drops", "pulses").foreach { t =>
        val n = TableManifest.deleteOrphans(fs, s"$basePath/$t")
        if (n > 0) System.err.println(s"[ingest] deleted $n uncommitted files from $t")
      }
      // a table with no committed manifest has seeded nothing
      val snap = TableManifest.latest(fs, pulsesPath.toString) match {
        case Some(s) if s.partitions.nonEmpty => s
        case _ => return
      }
      val summary = snap.summary
      // adopt the span the committed dirs were written with BEFORE any
      // bucket arithmetic below
      summary.foreach(s => bucketSpan = s.span)
      // has the dimension outgrown its span? One cheap driver-side count
      // of the CURRENT bucket dirs (the manifest's partitions), once per
      // start. Past cfg.maxPulseBuckets the store re-buckets at the
      // extent-sized span (the re-bucketing commit below) — the
      // measured serving-scale remedy (500 dirs → 50 at 5M pulses,
      // fast-warm 283 → 209 ms) as write-side default, no env knob.
      // Growth between restarts is bounded by cadence (outgrowing 64
      // base-span buckets takes ~74 days of 10 s pulses), so seed-time
      // is the right cadence for the rewrite.
      def bucketOf(dir: String) = dir.stripPrefix("pulse_bucket=").toLongOption
      val bucketDirVals: Set[Long] = snap.partitions.keysIterator.flatMap(bucketOf).toSet
      val needCoarsen = bucketDirVals.size > cfg.maxPulseBuckets
      // the frontier buckets only, read in the driver from the manifest's
      // files; no summary OR a re-bucketing (which must rewrite the WHOLE
      // dimension) reads every bucket
      val seeded = summary match {
        case Some(s) if !needCoarsen =>
          snap.partitions.keys.filter(bucketOf(_).exists(_ >= s.frontierBucket))
        case _ => snap.partitions.keys
      }
      val columns = Schemas.pulses.fieldNames.toSeq.filterNot(_ == "pulse_bucket")
      val at = columns.zipWithIndex.toMap
      val rows = TableManifest.readRows(spark, pulsesPath.toString, snap, seeded,
        "pulse_bucket", Schemas.pulses, columns)
      lock.synchronized {
        rows.foreach { r =>
          val p = r.getLong(at("pulse_number"))
          val e = PulseEntry(
            prev = r.getLong(at("prev_pulse_number")),
            jets = Set.empty,
            jetDropAmount = r.getInt(at("jet_drop_amount")),
            recordAmount = r.getLong(at("record_amount")),
            resultAmount = r.getLong(at("result_amount")),
            timestamp = r.getLong(at("timestamp")),
            complete = r.getBoolean(at("is_complete")),
            sequential = r.getBoolean(at("is_sequential")))
          entries.update(p, e)
          if (!(e.complete && e.sequential)) open += p
        }
      }
      // Span RECOVERY when the manifest has no summary (a pulses table
      // written before summaries existed): the span is a store property,
      // and flushing a coarsened store at the config base span would
      // add fine-span sibling dirs that the manifest then serves
      // ALONGSIDE the live coarse partitions (duplicate rows), while the
      // next summary would speak fine units and make the bounded seed
      // prune every coarse dir. No summary forces the full read above
      // (`bounded` = whole table), so the register holds every pulse and
      // the true span is recoverable from the committed layout: its
      // dir values are exactly {p / span}, and among
      // base×10^k candidates only the true span reproduces that set (a
      // finer candidate maps some pulse outside the dirs, a coarser one
      // leaves some dir value unreachable). No match (corrupt layout)
      // keeps the config span and says so — the pre-r16 behavior.
      if (summary.isEmpty) lock.synchronized {
        if (entries.nonEmpty) {
          def buckets(sp: Long): Set[Long] = entries.keysIterator.map(_ / sp).toSet
          var s = cfg.flushBucketSpan
          while (buckets(s) != bucketDirVals && s <= Long.MaxValue / 10) s *= 10
          if (buckets(s) == bucketDirVals) {
            if (s != bucketSpan)
              System.err.println(s"[ingest] recovered pulses bucket span $s " +
                s"from the committed layout (manifest summary absent)")
            bucketSpan = s
          } else
            System.err.println(s"[ingest] could not infer the pulses bucket " +
              s"span from ${bucketDirVals.size} committed dirs; keeping the " +
              s"config span ${cfg.flushBucketSpan}")
        }
      }
      val openSnap = lock.synchronized(open.toVector)
      // the open pulses' drops partitions, read in the driver from the
      // committed jet_drops snapshot (none committed: nothing to read),
      // so this read is bounded by the open frontier however large the
      // history is
      val dropsSnap =
        if (openSnap.isEmpty) None
        else TableManifest.latest(fs, s"$basePath/jet_drops")
      dropsSnap.foreach { drops =>
        val jets = TableManifest.readRows(spark, s"$basePath/jet_drops", drops,
          openSnap.map(p => s"pulse_number=$p"), "pulse_number", Schemas.jetDrops,
          Seq("jet_id", "record_amount"))
          .groupBy(_.getLong(2))
        lock.synchronized {
          jets.foreach { case (p, rs) =>
            // the drops table is the truth for an open pulse: refresh the
            // record counter and the drop counter along with the cover,
            // so neither a pre-crash unflushed reload NOR a flushed
            // zero-row revert (jets=∅, amounts=0 persisted while the old
            // partitions survived the empty overwrite) can freeze stale
            // counters — without the record_amount restore, a restart
            // after such a revert would re-seal the pulse complete via
            // its (still on-disk) cover while serving record_amount=0
            entries.get(p).foreach { e =>
              val cover = rs.map(_.getUTF8String(0).toString).toSet
              val records = rs.map(_.getInt(1).toLong).sum
              entries.update(p, e.copy(jets = cover, jetDropAmount = cover.size,
                recordAmount = records))
              // a restored counter that CONTRADICTS the persisted row
              // (e.g. a flushed zero-row revert whose empty overwrite
              // left the partitions intact) re-flushes, so the pulses
              // dimension converges back to the store's truth even when
              // the upstream can never serve the pulse again
              if (e.jetDropAmount != cover.size || e.recordAmount != records)
                dirty += p
            }
          }
        }
      }
      lock.synchronized {
        // the summary's mark is a lower bound (taken at flush staging);
        // anything that moved since is in the collected frontier rows, so
        // the max over both is exact
        val summarySeq = summary.map(_.seqPulse)
        seqPulse = (entries.collect { case (p, e) if e.sequential => p } ++
          summarySeq).maxOption.getOrElse(fromPulse - cfg.pulseDelta)
        cursorNow = entries.keysIterator.maxOption
          .map(m => math.max(m + cfg.pulseDelta, fromPulse)).getOrElse(fromPulse)
      }
      if (needCoarsen) {
        System.err.println(s"[ingest] pulses dimension outgrew its bucket " +
          s"span (> ${cfg.maxPulseBuckets} dirs); re-bucketing at the " +
          s"extent-sized span in one manifest commit")
        lock.synchronized {
          if (entries.nonEmpty)
            bucketSpan = spanForExtent(entries.firstKey, entries.lastKey,
              cfg.flushBucketSpan, cfg.maxPulseBuckets)
        }
        // rewrite IMMEDIATELY (threads are not running yet): the register
        // holds the whole dimension, and the commit either publishes the
        // coarse layout with its summary or leaves the fine one intact
        flush(relayout = true)
      }
      // Full-read EVICTION: both the re-bucketing and the no-summary
      // span recovery read the WHOLE dimension, and neither
      // may leave it resident (the register's contract is
      // open-frontier-bounded memory; a 5M-pulse history would hold ~5M
      // entries forever). Evict entries strictly below the frontier
      // bucket — all closed by the prefix property, their rows safely on
      // disk, and no flush can touch their buckets (dirty ⊆ register).
      if (needCoarsen || summary.isEmpty)
        lock.synchronized {
          if (entries.nonEmpty) {
            val fb = open.headOption.getOrElse(entries.lastKey) / bucketSpan
            entries.keysIterator.takeWhile(_ < fb * bucketSpan).toVector
              .foreach(entries.remove)
          }
        }
    }

    // ---- commit ---------------------------------------------------------

    private def timed[T](ms: java.util.concurrent.atomic.AtomicLong)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally { ms.addAndGet((System.nanoTime() - t0) / 1000000L); () }
    }

    private def fetch(pulse: Long): Option[Transport.FetchedPulse] = timed(fetchMs)(
      Transport.fetchPulse(stream, pulse, cfg.batchSize, backoffMs = cfg.fetchBackoffMs))

    private def prepare(pulse: Long, rows: Seq[Row]): Ready = timed(prepareMs)(
      Ready(pulse, PulseWriter.prepare(rows),
        rows.count(_.getAs[String]("virtual_type") == "result").toLong))

    /** Write a prepared pulse, then register it from its own drop rows.
      * The register entry REPLACES jets/counters (the partition overwrite
      * replaced the rows on disk — a merged union could mark a cover
      * complete that the store no longer holds); `prev` is chain-derived
      * at first sight and kept after, and a backfilled pulse FIXES UP its
      * successor's stale prev so the chain stays linked through
      * out-of-order arrival.
      */
    private def write(ready: Ready): Unit = {
      val Ready(pulse, prepared, results) = ready
      timed(commitMs)(writeLock.synchronized {
        manifests ++= PulseWriter.write(spark, prepared, basePath).manifests
      })
      commits.incrementAndGet()
      lock.synchronized {
        val jets = prepared.drops.map(_.getAs[String]("jet_id")).toSet
        val amount = prepared.drops.map(_.getAs[Int]("record_amount").toLong).sum
        val prior = entries.get(pulse)
        // prev fallback order: known predecessor → (empty register) the
        // sequencer's start mark, so the FIRST pulse a fresh daemon finds
        // past a historical hole (probe or redirect) chains from the
        // start and can sequence — `pulse - delta` there would name a
        // pulse inside the hole that never exists, stalling the
        // sequencer forever → (backfill below the earliest known) the
        // natural cadence guess
        val prev = prior.map(_.prev).getOrElse(
          entries.maxBefore(pulse).map(_._1).getOrElse(
            if (entries.isEmpty) seqPulse else pulse - cfg.pulseDelta))
        entries.update(pulse, PulseEntry(
          prev = prev,
          jets = jets,
          jetDropAmount = jets.size,
          recordAmount = amount,
          resultAmount = results,
          timestamp = pulse - Canonicalize.MinTimePulse,
          // a reload that no longer covers the tree revokes completeness;
          // a ZERO-record pulse is complete by construction — the fetch
          // ran to its end-of-pulse marker, so the (empty) drop set IS
          // the whole pulse; routing it through the cover check would
          // leave it open forever with a pointless TTL re-request per
          // maintainer cycle. Empty-completeness is granted only when the
          // pulse was NEVER seen populated (prior absent, or itself empty
          // by both cover and persisted counter): a transient zero-row
          // reload of a populated pulse (flaky node reaching its
          // end-of-pulse marker with no records) must REVERT to
          // incomplete and stay re-requestable — sealing it would advance
          // the sequencer past a register that now disagrees with the
          // drop/record partitions the zero-row overwrite left on disk.
          // The jetDropAmount check covers a restarted daemon's seeded
          // entries, whose cover set is empty even for populated pulses.
          complete = (jets.isEmpty &&
              prior.forall(p => p.jets.isEmpty && p.jetDropAmount == 0)) ||
            (prior.exists(_.complete) && JetFunctions.jetTreeCover(jets)),
          sequential = prior.exists(_.sequential)))
        open += pulse
        dirty += pulse
        // our arrival changes the PREDECESSOR's next link — re-flush its
        // bucket even if it was closed, so an iterate-from skip can't
        // freeze a stale next_pulse_number across bucket boundaries
        if (prior.isEmpty && entries.contains(prev)) dirty += prev
        // successor fix-up: if the next known pulse still points below us
        // (it arrived before we did), relink it through this pulse so the
        // sequencer chains through the backfill. An already-SEQUENTIAL
        // successor keeps its link — the high-water mark passed it under
        // the chain as it was known then, and the reference never revokes
        // sequenced history either.
        entries.minAfter(pulse + 1).foreach { case (q, qe) =>
          if (qe.prev < pulse && !qe.sequential) {
            entries.update(q, qe.copy(prev = pulse))
            dirty += q
          }
        }
      }
    }

    /** Re-request one pulse and commit it inline (reload path). True when
      * data arrived.
      */
    private def fetchAndCommit(pulse: Long): Boolean =
      fetch(pulse) match {
        case Some(fp) => write(prepare(pulse, fp.rows)); true
        case None => false
      }

    // ---- follower -------------------------------------------------------

    /** Move the cursor past the pulse fetched at `p`: to the exporter's
      * iterate-from hint, or one δ on when the hint does not advance. A
      * redirect is the exporter's answer for the pulses it skips, so it
      * registers them as reload-requested: the sequencer's gap reload does
      * not ask for them again within the TTL.
      */
    private def advance(p: Long, fp: Transport.FetchedPulse): Unit = {
      if (fp.iterateFrom > p + cfg.pulseDelta)
        missed.addIfNew(p + cfg.pulseDelta, fp.iterateFrom - cfg.pulseDelta)
      cursorNow = if (fp.iterateFrom > p) fp.iterateFrom else p + cfg.pulseDelta
    }

    /** Cooperative pause: sleeps in ≤100 ms slices so `stop()` can end a
      * loop WITHOUT interrupting it — a loop stopped between commits
      * leaves no commit half-written when the shutdown flush runs (an
      * interrupt landing inside a commit's file writes fails that commit,
      * which deletes what it wrote and publishes nothing).
      */
    private def nap(ms: Long): Unit = {
      val t0 = System.nanoTime()
      while (running && (System.nanoTime() - t0) / 1e6 < ms)
        Thread.sleep(math.min(100L, ms))
    }

    /** Historical-hole defense for restart resume: the seeded cursor is
      * `maxKnown + pulseDelta`, which discards any un-acted-on
      * `ShouldIterateFrom` redirect — if the daemon crashed after
      * committing the pulse BEFORE a hole but before fetching the
      * redirect target, the resumed cursor points at a pulse the
      * exporter answers NOT_FOUND for FOREVER (historical holes never
      * backfill), and the sequencer's gap reload cannot help because no
      * later pulse is known yet. After a prolonged NOT_FOUND streak the
      * follower probes forward [[Config.headProbeSpan]] pulses at a
      * time: the NEAR window (offsets 1..span) on every probe tick, plus
      * a far window resuming where the last one stopped, restarting
      * from the near window at double the depth each time a full sweep
      * misses — so a pulse appearing near the cursor is found within one
      * tick, a pulse appearing at ANY offset (e.g. a feed that resumes
      * after the far window crept past its head) is found within one
      * sweep cycle, and a hole of any width is still crossed in
      * O(width/span) probes. The first hit is
      * committed (its chain prev = the max known pulse, so the chain
      * links ACROSS the hole exactly as a live redirect would have) and
      * the cursor advances past it. At a genuine live head every probe
      * misses — a few cheap NOT_FOUND round trips per
      * [[Config.headProbeAfter]] head polls — and the cursor stays put:
      * the head pulse itself is always tried first each iteration, so
      * the probe windows can never skip it.
      * The hit is committed inline; the caller has no write in flight.
      * Returns true when a pulse was found and committed.
      */
    private def probeForward(fromOffset: Long): Boolean = {
      var i = fromOffset + 1
      while (running && i <= fromOffset + cfg.headProbeSpan) {
        val p = cursorNow + i * cfg.pulseDelta
        fetch(p) match {
          case Some(fp) =>
            write(prepare(p, fp.rows))
            advance(p, fp)
            return true
          case None => i += 1
        }
      }
      false
    }

    private def followLoop(): Unit = {
      var notFound = 0 // consecutive NOT_FOUNDs at an unmoved cursor
      var probedTo = 0L // forward offset the hole probe has covered so far
      var sweepEnd = 2L * cfg.headProbeSpan // far sweep restarts (deeper) here
      def probeHit(): Unit = { probedTo = 0L; sweepEnd = 2L * cfg.headProbeSpan }
      // the pulse on the writer thread and its write; a failed write
      // rewinds the cursor to its pulse and rethrows, so the catch below
      // pauses and the next turn refetches it
      var inFlight: Option[(Long, java.util.concurrent.Future[_])] = None
      def awaitWrite(): Unit = inFlight.foreach { case (p, w) =>
        inFlight = None
        try { w.get(); () } catch {
          case e: java.util.concurrent.ExecutionException =>
            cursorNow = p
            throw e.getCause
        }
      }
      while (running) {
        try {
          val p = cursorNow
          fetch(p) match {
            case Some(fp) =>
              notFound = 0
              probeHit()
              val ready = prepare(p, fp.rows)
              awaitWrite()
              // stopping: the prepared pulse is dropped unwritten, and the
              // next start fetches it again (its cursor seeds past the
              // newest committed pulse)
              if (running) {
                inFlight = Some(p -> writer.submit(new Runnable { def run(): Unit = write(ready) }))
                advance(p, fp)
              }
            case None =>
              // head reached (NOT_FOUND): the last handed-over write must
              // land before the probe commits inline or the loop naps
              awaitWrite()
              // half-pulse pause, same cursor — unless the streak says
              // this may be a historical hole
              notFound += 1
              if (notFound >= cfg.headProbeAfter) {
                notFound = 0
                // near window first, EVERY time: a pulse appearing within
                // one span of the cursor is found on the next probe tick
                // even after the far window has crept ahead of it; then
                // the far window continues from where it stopped. When a
                // full sweep reaches sweepEnd without a hit, the sweep
                // RESTARTS from just past the near window at DOUBLE the
                // depth — a monotone-only far window would permanently
                // skip the offsets between the windows, so a feed that
                // stalls (NOT_FOUND for minutes) and then resumes behind
                // the crept-ahead far window would never be probed again
                // (the far window advances a span per tick, faster than
                // the head's one pulse per cadence — an unrecoverable
                // stall). The cyclic restart re-covers every mid-range
                // offset once per sweep, and the doubling keeps crossing
                // a hole of width W at O(W/span) total probes.
                if (probeForward(0L)) probeHit()
                else {
                  if (probedTo < cfg.headProbeSpan) probedTo = cfg.headProbeSpan
                  if (probeForward(probedTo)) probeHit()
                  else {
                    probedTo += cfg.headProbeSpan
                    if (probedTo >= sweepEnd) {
                      sweepEnd = math.min(sweepEnd * 2, Long.MaxValue / 4)
                      probedTo = cfg.headProbeSpan
                    }
                    nap(cfg.headPauseMs)
                  }
                }
              } else nap(cfg.headPauseMs)
          }
        } catch {
          case _: InterruptedException => return
          case NonFatal(e) =>
            // exporter down past the reopen budget, or a commit failure
            // (the cursor rewound to the failed pulse): retry after a
            // pause — the extractor retries forever under its
            // controller's cancellation (the
            // throttled trace keeps a persistent outage visible without
            // flooding at the retry cadence)
            traceLoopFailure("follower", e)
            try nap(cfg.errorPauseMs)
            catch { case _: InterruptedException => return }
        }
      }
    }

    // ---- maintainer (pulseMaintainer analog) ----------------------------

    private def maintainOnce(): Unit = {
      val openSnap = lock.synchronized(open.toVector)
      openSnap.foreach { p =>
        lock.synchronized(entries.get(p)).foreach { e =>
          if (!e.complete) {
            if (JetFunctions.jetTreeCover(e.jets)) {
              lock.synchronized {
                entries.get(p).foreach(cur =>
                  entries.update(p, cur.copy(complete = true)))
                dirty += p
              }
            } else if (!missed.covered(p, p)) {
              // incomplete → TTL-deduped re-request; register the attempt
              // only once it ran without throwing, so a transient failure
              // retries next tick instead of waiting out the TTL
              try { fetchAndCommit(p); missed.addIfNew(p, p); () }
              catch { case _: InterruptedException => throw new InterruptedException
                      // NonFatal: VM errors propagate (HTTP-handler policy)
                      case NonFatal(_) => () }
            }
          }
        }
      }
      flush()
      // close out flushed complete+sequential pulses: maintainer and
      // sequencer ticks then scan only the open frontier (the reference
      // deletes completed pulses from its jetDropRegister the same way)
      lock.synchronized {
        open.toVector.foreach { p =>
          entries.get(p).foreach(e =>
            if (e.complete && e.sequential && !dirty.contains(p)) open -= p)
        }
      }
    }

    // throttled trace for the background loops: a tick failure is
    // RECOVERABLE by design (flush re-marks dirty, the next tick
    // retries), but a persistent one — a store that stopped accepting
    // writes, say — must not be INVISIBLE; one line per loop per ~10 s
    // keeps a crash-looping tick from flooding stderr at cadence speed.
    // PER-LOOP timestamps, not one shared token: the 1 s-cadence loops
    // would otherwise win a shared token every time and starve a
    // maintainer-only failure's trace indefinitely. First failure of a
    // loop always prints (no sentinel arithmetic — a Long.MinValue
    // baseline would overflow `now - prev` and silence the trace
    // forever). Each loop is its own single writer, so plain get/put
    // per key suffices.
    private val lastLoopTraceNs =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private[graft] def traceLoopFailure(loop: String, e: Throwable): Unit = {
      val now = System.nanoTime()
      val prev = lastLoopTraceNs.get(loop)
      if (prev == null || now - prev.longValue() > 10000000000L) {
        lastLoopTraceNs.put(loop, now)
        System.err.println(s"[ingest] $loop tick failed (retrying at cadence): $e")
      }
    }

    private def maintainLoop(): Unit =
      while (running) {
        try { nap(cfg.pulsePeriodMs); if (running) maintainOnce() }
        catch { case _: InterruptedException => return
                case NonFatal(e) => traceLoopFailure("maintainer", e) }
      }

    // ---- sequencer (pulseSequence analog) -------------------------------

    private def sequenceOnce(): Unit = {
      var advanced = true
      while (advanced) { // waitTime=0 fast path: chain through in one round
        advanced = false
        // smallest-first over the sorted open set: a backfilled chain
        // (two pulses transiently claiming the same prev) advances
        // deterministically through the earlier one
        val cand = lock.synchronized {
          open.iterator
            .map(p => p -> entries(p))
            .find { case (_, e) => e.prev == seqPulse && e.complete }
            .map(_._1)
        }
        cand match {
          case Some(p) =>
            lock.synchronized {
              entries.get(p).foreach(cur =>
                entries.update(p, cur.copy(sequential = true)))
              dirty += p
            }
            seqPulse = p
            advanced = true
          case None =>
            // stalled: re-request the open gap up to the next saved pulse
            // (GetNextSavedPulse + reloadData, pulsemaintainer.go:120-139)
            val nextSaved = lock.synchronized(open.minAfter(seqPulse + 1))
            nextSaved.foreach { ns =>
              val (from, to) = (seqPulse + cfg.pulseDelta, ns - cfg.pulseDelta)
              if (from <= to && !missed.covered(from, to)) {
                val known = lock.synchronized(entries.keySet.toSet)
                try {
                  (from to to by cfg.pulseDelta)
                    .filterNot(known).foreach(fetchAndCommit)
                  missed.addIfNew(from, to)
                  ()
                } catch { case _: InterruptedException => throw new InterruptedException
                          case NonFatal(_) => () }
              }
            }
        }
      }
    }

    private def sequenceLoop(): Unit =
      while (running) {
        try { nap(cfg.sequentialPeriodMs); if (running) sequenceOnce() }
        catch { case _: InterruptedException => return
                case NonFatal(e) => traceLoopFailure("sequencer", e) }
      }

    // ---- pulses dimension -----------------------------------------------

    /** Persist changed pulses — the reference's pulses table with its
      * maintained flags (`CompletePulse` / `SequencePulse`,
      * `etl/storage/storage.go`). Incremental: only the `pulse_bucket`
      * partitions containing dirty pulses are replaced, in one manifested
      * commit (no Spark job) that also carries the restart summary, so
      * flush cost is bounded by the change frontier, never by the
      * table's accumulated history. With `relayout` (the seed's
      * re-bucketing) every known pulse is staged at the current span and
      * the commit drops every partition it does not write.
      */
    private def flush(relayout: Boolean = false): Unit = {
      // stage under the register lock, CLEARING dirty at stage time: an
      // entry that changes mid-write re-enters the (now empty) dirty set
      // and survives for the next flush instead of being lost to a
      // staged-then-cleared race
      val staged: Option[(Seq[Row], Set[Long], TableManifest.Summary)] = lock.synchronized {
        if (relayout) dirty ++= entries.keysIterator
        if (dirty.isEmpty) None
        else {
          // restart summary for the bounded seed: the sequential
          // high-water mark plus the first bucket holding an open pulse
          // (no open pulse → the tail bucket, so a fully-closed store
          // still seeds its chain tail), taken from the same register
          // state as the rows it is committed with. Computed BEFORE the
          // close-out that follows this flush, so the recorded bucket
          // only ever points at or below the true frontier — stale-low is
          // safe, the seed just reads a superset.
          val summary = TableManifest.Summary(seqPulse,
            open.headOption.getOrElse(entries.lastKey) / bucketSpan, bucketSpan)
          val dirtyBuckets = dirty.map(_ / bucketSpan).toSet
          // next link: the key successor, when it points back at us — an
          // O(log n) probe per staged row instead of an O(history) index
          def nextOf(p: Long): Long =
            entries.minAfter(p + 1)
              .filter(_._2.prev == p).map(_._1)
              .getOrElse(p + cfg.pulseDelta)
          // TreeMap range per dirty bucket: staging cost is bounded by
          // the dirty buckets' sizes, never the table's history
          val rows = dirtyBuckets.toSeq.sorted.flatMap { b =>
            entries.range(b * bucketSpan, (b + 1) * bucketSpan)
              .iterator.map { case (p, e) =>
                Row(p, e.prev, nextOf(p), e.complete, e.sequential,
                  e.jetDropAmount, e.recordAmount, e.resultAmount,
                  e.timestamp, b)
              }.toSeq
          }
          val flushed = dirty.toSet
          dirty.clear()
          Some((rows, flushed, summary))
        }
      }
      staged.foreach { case (rows, flushed, summary) =>
        try writeLock.synchronized {
          // MANIFESTED replace of exactly the dirty buckets, written from
          // the staged rows by the same writer the records/jet_drops
          // commits use (TableManifest.writeRows: no Spark job), with the
          // summary in the same publish: a serving read racing this flush
          // always resolves a committed file set, and a restart always
          // reads a summary that describes the rows committed with it
          TableManifest.writeRows(spark, s"$basePath/pulses", "pulse_bucket",
            Schemas.pulses, rows, summary = Some(summary), dropOthers = relayout)
            .foreach(s => manifests += ("pulses" -> s))
        } catch {
          case e @ (_: InterruptedException | NonFatal(_)) =>
            // failed or interrupted write: nothing persisted — re-mark
            // for the next tick
            lock.synchronized { dirty ++= flushed }
            throw e
        }
      }
    }

    // ---- lifecycle ------------------------------------------------------

    def start(): this.type = synchronized {
      require(threads.isEmpty, "daemon already started")
      seed()
      running = true
      writer = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, "graft-ingest-writer")
        t.setDaemon(true)
        writerThread = Some(t)
        t
      }
      threads = Seq(
        new Thread(() => followLoop(), "graft-ingest-follower"),
        new Thread(() => maintainLoop(), "graft-ingest-maintainer"),
        new Thread(() => sequenceLoop(), "graft-ingest-sequencer"))
      threads.foreach { t => t.setDaemon(true); t.start() }
      this
    }

    def stop(): Unit = synchronized {
      running = false
      // cooperative first: the sliced sleeps notice the flag within
      // ~100 ms and an in-flight commit completes; interrupt only a loop
      // stuck past that (a hung wire read)
      threads.foreach(_.join(15000))
      threads.filter(_.isAlive).foreach { t => t.interrupt(); t.join(5000) }
      threads = Seq.empty
      // the follower's in-flight write finishes (a pulse it prepared but
      // never handed over is dropped; the next start fetches it again)
      Option(writer).foreach(_.shutdown()) // null when never started
      writerThread.foreach { t =>
        t.join(15000)
        if (t.isAlive) { t.interrupt(); t.join(5000) }
      }
      writerThread = None
      // final maintainer pass so the persisted flags reflect everything
      // committed before shutdown (the graceful-stop flush). A failure
      // here is RECOVERABLE (the next start re-derives flags from the
      // store) but must not be INVISIBLE: without the log line a
      // shutdown-time store failure leaves operators nothing to act on.
      try { maintainOnce(); sequenceOnce(); flush() } catch {
        case NonFatal(e) =>
          System.err.println(
            s"[ingest] shutdown flush failed (flags re-derive on next start): $e")
      }
    }
  }

  /** The ETL binary's own ops mux — the reference starts the
    * /healthcheck router and a metrics HTTP server inside
    * `cmd/block-explorer/main.go` itself (`main.go:60`, `main.go:157-171`
    * with the controller/extractor/transformer gauge collectors), so a
    * deploy probes the INGEST binary directly, not just the API service.
    * Gauges and the commit counters come straight from the daemon
    * (driver-held reads — zero Spark jobs per scrape). Exact-path
    * /healthcheck like the service listener's; any method answers
    * (ServeMux parity). Caller owns `stop(0)`.
    */
  def opsListener(daemon: Daemon, port: Int): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    graft.api.OpsRoutes.healthcheck(server)
    graft.api.OpsRoutes.metrics(server) { () =>
      val (open, incomplete, dirty) = daemon.frontierStats
      val (commits, commitMs) = daemon.commitStats
      val (fetchMs, prepareMs) = daemon.stageMs
      val tables = daemon.lastManifests.toSeq.sortBy(_._1)
      def perTable(f: TableManifest.Snapshot => Long) =
        tables.map { case (t, s) => s"""{table="$t"}""" -> f(s) }
      Seq(
        ("gbe_ingest_cursor", "gauge", Seq("" -> daemon.cursor)),
        ("gbe_ingest_sequential_pulse", "gauge", Seq("" -> daemon.sequentialPulse)),
        ("gbe_ingest_known_pulses", "gauge", Seq("" -> daemon.ingestedCount.toLong)),
        ("gbe_ingest_open_frontier", "gauge", Seq("" -> open.toLong)),
        ("gbe_ingest_incomplete_pulses", "gauge", Seq("" -> incomplete.toLong)),
        ("gbe_ingest_dirty_pulses", "gauge", Seq("" -> dirty.toLong)),
        // mean write latency = commit_ms_sum / commits_total; fetch and
        // prepare run beside the writes, on the follower thread
        ("gbe_ingest_commits_total", "counter", Seq("" -> commits)),
        ("gbe_ingest_fetch_ms_sum", "counter", Seq("" -> fetchMs)),
        ("gbe_ingest_prepare_ms_sum", "counter", Seq("" -> prepareMs)),
        ("gbe_ingest_commit_ms_sum", "counter", Seq("" -> commitMs)),
        // the last manifest this daemon committed per table: version,
        // files it lists, and superseded files awaiting retention
        ("gbe_ingest_manifest_version", "gauge", perTable(_.version)),
        ("gbe_ingest_manifest_live_files", "gauge",
          perTable(_.partitions.valuesIterator.map(_.size.toLong).sum)),
        ("gbe_ingest_manifest_pending_tombstones", "gauge", perTable(_.tombstones.size.toLong))
      ).map { case (n, t, vs) =>
        (s"# TYPE $n $t" +: vs.map { case (labels, v) => s"$n$labels $v" }).mkString("\n")
      }.mkString("", "\n", "\n")
    }
    server.start()
    server
  }

  /** Everything `main` does short of blocking: open the plaintext channel
    * (1 GiB inbound cap, like the reference transport), wrap the live
    * record stream, start the daemon. Callers own `stop()` on the
    * returned handle (which also closes the channel).
    */
  final class Handle private[Ingest] (val daemon: Daemon,
      channel: org.sparkproject.connect.grpc.ManagedChannel) {
    def stop(): Unit = { daemon.stop(); GrpcTransport.close(channel) }
  }

  def bootstrap(spark: SparkSession, basePath: String, host: String, port: Int,
      fromPulse: Long, cfg: Config = Config()): Handle = {
    val ch = GrpcTransport.channel(host, port)
    val daemon = new Daemon(spark, basePath,
      new GrpcTransport.GrpcRecordStream(ch), fromPulse, cfg).start()
    new Handle(daemon, ch)
  }

  def main(args: Array[String]): Unit = {
    val host = sys.env.getOrElse("SPARK_GRAFT_EXPORTER_HOST", "localhost")
    val port = Sessions.envLong("SPARK_GRAFT_EXPORTER_PORT", 8090L, max = Sessions.MaxPort).toInt
    val base = sys.env.getOrElse("SPARK_GRAFT_BASE_PATH", "/tmp/graft-ingest")
    val from = Sessions.envLong("SPARK_GRAFT_FROM_PULSE", Canonicalize.MinTimePulse + 10L)
    val spark = Sessions.serviceBuilder(Sessions.cpus(), "graft-ingest", Some(base)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val handle = bootstrap(spark, base, host, port, from)
    // the reference binds its ops mux unconditionally on :8000
    // (pprof_router.go:30); here the port is explicit so sandboxed
    // side-by-side daemons don't collide — 0 picks an ephemeral port
    val ops = opsListener(handle.daemon,
      Sessions.envLong("SPARK_GRAFT_OPS_PORT", 8000L, max = Sessions.MaxPort).toInt)
    println(s"""{"metric":"ingesting","exporter":"$host:$port","base":"$base","from":$from""" +
      s""","ops_port":${ops.getAddress.getPort}}""")
    sys.addShutdownHook { ops.stop(0); handle.stop(); spark.stop() }
    Thread.currentThread.join() // ingest until killed
  }
}
