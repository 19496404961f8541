package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The session configs every graft entry point must share, in ONE place.
  *
  * Two configs are load-bearing for correctness, not tuning:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — the driver's
  *    `events.ts` has shipped as INT64 TIMESTAMP(NANOS); without the flag
  *    that physical form fails to read at all. It must be set BEFORE the
  *    first events relation resolves: a relation cached without it keeps
  *    the wrong schema for the session's lifetime.
  *  - `spark.sql.session.timeZone=UTC` — the TIMESTAMP(MICROS) drift form
  *    is normalized to epoch-nanos through a session-zone-dependent cast
  *    ([[graft.model.DriftAdapters]]); any other zone shifts every pulse
  *    bucket.
  *
  * Historically `Domain.events` set both defensively on every call, which
  * works only because all entry points happen to route through it before
  * the scan resolves. The accessors now ASSERT instead (fail loudly at
  * the first read) and construction happens here, where every main —
  * Serve, ExporterServe, Ingest, Verify, Smoke, Explain — and the test
  * harness build their sessions.
  */
object Sessions {

  /** The core count every main runs at: `SPARK_GRAFT_CPUS` when set,
    * otherwise the processors this JVM sees, so by default a local
    * session starts no more task threads (and no more than 8× as many
    * AQE partitions) than the host has cores. A set value that is not a
    * positive integer is rejected here, naming the variable, rather
    * than misread further down.
    */
  def cpus(env: Map[String, String] = sys.env): String =
    env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty) match {
      case Some(v) =>
        require(v.toIntOption.exists(_ > 0),
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
        v
      case None => Runtime.getRuntime.availableProcessors.toString
    }

  /** (key, required value) pairs — order matters only for error messages. */
  val DriftConfs: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** Apply the drift-defense configs to a session builder. */
  def withDriftDefaults(b: SparkSession.Builder): SparkSession.Builder =
    DriftConfs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** The long-lived-service configs the bench measured as load-bearing:
    *
    *  - AQE + skew-join: runtime re-plan and skew splitting at the bench SF.
    *  - `codegen.cache.maxEntries=3000`: the catalog has ~67 queries x
    *    several codegen stages; the default 100-entry cache thrashes,
    *    recompiling every stage every pass (measured via CodegenMetrics).
    *    Any long-lived entry point — the API server above all — must hold
    *    its working set of generated classes.
    *  - FAIR scheduling: concurrent requests (or attack threads) share
    *    the pool instead of FIFO-starving point lookups behind one heavy
    *    page.
    *
    * Every entry point builds through [[serviceBuilder]] so the
    * production binary runs the exact configuration the bench measures;
    * SessionsSpec pins the set.
    */
  val ServiceConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "3000",
    "spark.scheduler.mode" -> "FAIR",
    "spark.ui.enabled" -> "false")

  /** Reducer counts come from DATA SIZE, not the static partition knob:
    * AQE starts every exchange at up to `8 × cores` partitions and
    * coalesces down to its 64 MB advisory target, so a sub-MB shuffle
    * still runs a handful of reducers while a 9 GB shuffle keeps
    * hundreds — the one configuration that survives five orders of
    * magnitude of input (AQE can only coalesce DOWN; nothing splits an
    * oversized sort/agg partition at runtime, so the static
    * `partitions = cores` start is a scale ceiling). Measured (r17,
    * ev_sessions at the 50M→500M-event decade): the static 32 sorts
    * 15.6M rows/reducer and measures 552 s; 512 initial measures
    * 246–363 s with zero spill. Derived from the core count so a real
    * cluster's posture scales the same way.
    */
  def initialPartitions(cpus: String): String =
    (cpus.toInt * 8).toString

  /** The r17 flat `8 × cores` start taxed SMALL inputs: every exchange
    * of a 17 MB dataset opened 256 map-side buckets and paid extra AQE
    * coalescing rounds for reducers that could never carry 64 MB — a
    * measured 4–6% catalog-wide cost at sf0.1, concentrating in the
    * multi-exchange shapes (q5_region regressed 1.42×, the r17
    * verdict's one real regression). The start is therefore derived
    * from the INPUT SIZE when the entry point knows its data dir:
    * estimated shuffle bytes (on-disk bytes × [[ShuffleExpansion]],
    * parquet-compressed → in-flight row format) over the 64 MB
    * advisory, clamped to [cores, 8 × cores]. A 17 MB dir starts at
    * `cores` (the pre-r17 posture that measured fastest there), a
    * multi-GB store keeps the full 8 × cores headroom (the 500M-event
    * decade posture), and an unsizable dir (remote fs, missing path)
    * falls back to the scale-safe flat start — never to the small one.
    */
  val ShuffleExpansion = 4L
  private val AdvisoryBytes = 64L << 20

  def initialPartitionsSized(cpus: String, dataBytes: Long): String = {
    val cores = cpus.toInt
    if (dataBytes < 0) initialPartitions(cpus)
    else {
      val est = (dataBytes * ShuffleExpansion + AdvisoryBytes - 1) / AdvisoryBytes
      math.min(8L * cores, math.max(cores.toLong, est)).toString
    }
  }

  /** Recursive on-disk byte count of a local data dir, short-circuited
    * at `stopAt` — the walk is GENUINELY bounded: once the running sum
    * already saturates the posture clamp there is nothing left to
    * learn, so a 100 TB store pays for the first few GB of directory
    * listing, never a full-tree walk. -1 when the path is missing or
    * unwalkable (callers then keep the scale-safe flat posture). Runs
    * once at session build, never on a per-query path.
    */
  def dirBytes(dir: String, stopAt: Long = Long.MaxValue): Long =
    try {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) -1L
      else {
        val s = java.nio.file.Files.walk(root)
        try {
          val it = s.iterator()
          var sum = 0L
          while (sum < stopAt && it.hasNext) {
            val p = it.next()
            if (java.nio.file.Files.isRegularFile(p))
              sum += (try java.nio.file.Files.size(p) catch { case NonFatal(_) => 0L })
          }
          sum
        } finally s.close()
      }
    } catch { case NonFatal(_) => -1L }

  /** The byte sum at which [[initialPartitionsSized]] reaches its
    * 8×cores ceiling — the walk above never needs to count past it.
    */
  def posturesSaturatedAt(cpus: String): Long =
    8L * cpus.toInt * AdvisoryBytes / ShuffleExpansion + 1

  /** The COMPLETE conf set [[serviceBuilder]] applies — drift defenses,
    * service configs, and shuffle parallelism matched to the core count
    * and (when the entry point knows its data dir) the input size.
    * Exposed as data so SessionsSpec can pin it without reflecting into
    * the builder.
    */
  def serviceConfPairs(cpus: String, dataDir: Option[String] = None): Seq[(String, String)] = {
    val sizedBytes = dataDir.map(d => dirBytes(d, posturesSaturatedAt(cpus)))
    DriftConfs ++ ServiceConfs ++ Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        sizedBytes.fold(initialPartitions(cpus))(initialPartitionsSized(cpus, _))) ++
    // Shuffle codec follows the same size signal (r18 A/B at the
    // 500M-event decade, SCALE.md): once shuffles outgrow the page
    // cache and round-trip the disk, zstd's byte cut wins the IO-bound
    // term (ev_sessions steady 115 -> 75 s, 1.54x) while the smaller
    // distinct-agg shuffle was codec-neutral within the box's
    // run-to-run spread (lz4 35.7-52.5 vs zstd 44.1-45.3). Below the
    // threshold everything fits in page cache and lz4's cheaper CPU is
    // the right default (Spark's own), so the codec flips exactly where
    // the posture saturates — data-derived, never a local-mode constant.
    (if (sizedBytes.exists(_ >= posturesSaturatedAt(cpus)))
      Seq("spark.io.compression.codec" -> "zstd")
    else Seq.empty)
  }

  /** Session builder for every serving entry point: drift defenses plus
    * the benched service configs, `local[cpus]` with shuffle parallelism
    * matched to the core count (a 1000-executor deployment would swap the
    * master URL and scale `shuffle.partitions` with the cluster; nothing
    * else here is local-mode-specific). `dataDir` (the dir the entry
    * point serves) sizes the AQE initial partition count to the input —
    * see [[initialPartitionsSized]]; entry points with no single data
    * dir pass None and keep the
    * flat scale posture.
    */
  def serviceBuilder(cpus: String, appName: String,
      dataDir: Option[String] = None): SparkSession.Builder =
    serviceConfPairs(cpus, dataDir).foldLeft(
      SparkSession.builder().master(s"local[$cpus]").appName(appName)
    ) { case (acc, (k, v)) => acc.config(k, v) }

  /** Assert (never set) the drift-defense configs on a live session —
    * called by the [[graft.model.Domain]] accessors before the events
    * relation can resolve. Setting here instead would mask the ordering
    * hazard: a caller that had already resolved the scan through another
    * path would keep serving the wrong schema silently.
    */
  def assertDriftConfs(spark: SparkSession): Unit =
    DriftConfs.foreach { case (k, v) =>
      val got = spark.conf.getOption(k)
      if (!got.contains(v))
        throw new IllegalStateException(
          s"session conf $k=${got.getOrElse("<unset>")}, but the graft domain views require " +
          s"'$v' before the first events scan resolves (a relation cached under the wrong " +
          "config keeps the wrong schema for the session's lifetime). Build the session " +
          "with graft.Sessions.withDriftDefaults(SparkSession.builder()...).")
    }

  /** Conf-scoped child sessions: [[SparkSession.newSession]] shares the
    * SparkContext, shared state, and extensions but carries an ISOLATED
    * SQLConf — Spark's public mechanism for a per-query planner toggle
    * that must not leak into the calling session (the serving layer runs
    * every catalog query on one long-lived session; a `conf.set` there
    * would flip the knob for unrelated queries racing on other threads).
    * The child inherits the parent's runtime confs as of its FIRST use
    * (entries that reject a runtime set are static and context-inherited
    * already), then applies `overrides` — an override that itself rejects
    * propagates, that is a caller error. Memoized per (parent, override
    * set): derived caches key by session OBJECT ([[graft.sources
    * .RelationCache]]), so a fresh child per construction would
    * re-resolve every relation on every call. Weak parent keys — the memo
    * never outlives the parent. Later runtime-conf changes on the parent
    * are NOT re-propagated to an existing child; the one current caller
    * overrides a planner toggle whose surrounding confs are fixed at
    * session build.
    */
  private val confScopedChildren = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[Seq[(String, String)], SparkSession]]())

  def confScoped(parent: SparkSession, overrides: (String, String)*): SparkSession = {
    // key by the sorted pair sequence itself (value equality), not a
    // string join — "a" -> "1;b=2" and ("a" -> "1", "b" -> "2") must not
    // collide into one child (review r17)
    val key = overrides.sortBy(_._1).toSeq
    val perParent = confScopedChildren.synchronized {
      var m = confScopedChildren.get(parent)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[Seq[(String, String)], SparkSession]()
        confScopedChildren.put(parent, m)
      }
      m
    }
    perParent.computeIfAbsent(key, _ => {
      val child = parent.newSession()
      parent.conf.getAll.foreach { case (k, v) =>
        try child.conf.set(k, v)
        catch { case NonFatal(_) => () }
      }
      overrides.foreach { case (k, v) => child.conf.set(k, v) }
      child
    })
  }
}
