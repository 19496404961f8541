package graft.ingest

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper,
  PropertyNamingStrategies, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-commit snapshot manifests for the store's partitioned tables —
  * the snapshot-isolation layer the reference gets for free from
  * Postgres MVCC (`etl/dbconn/connection.go:13-22`).
  *
  * The problem it deletes: dynamic partition overwrite swaps a partition
  * directory by delete-then-rename, so a serving read that LISTED the
  * directory before a hot-pulse rewrite could lose its files mid-scan.
  * With manifests, a reader never lists a live directory at all:
  *
  *  - every commit APPENDS uniquely-named files (Spark part files carry
  *    the write job's UUID) and then atomically publishes a new manifest
  *    version — `_manifests/v<n>.json`, written to a dot-tmp sibling and
  *    renamed — mapping each partition to exactly its current files;
  *  - readers resolve the newest manifest (one `_manifests/` listing + one
  *    small JSON read, never a recursive walk) and plan over that
  *    explicit file list, so a racing rewrite of the same pulse cannot
  *    change or tear the set mid-request: the page served is always the
  *    page some committed version defined;
  *  - retention keeps that file list readable: no file named by a
  *    manifest that was current within the last [[RetentionMs]] is
  *    deleted. A commit records the files it supersedes — the replaced
  *    partitions' previous generation and the previous manifest itself —
  *    as tombstones stamped with the commit time, carries pending
  *    tombstones forward, and physically deletes only those superseded
  *    more than [[RetentionMs]] ago (the pattern of Delta Lake's VACUUM
  *    and Iceberg's expire-snapshots). A read therefore loses a file only
  *    if it stalls for longer than the retention window between
  *    resolving a manifest and opening the files it names. Disk overhead
  *    is bounded by what the writer supersedes in one window.
  *
  * Contract: ONE writer per table (the daemon serializes commits and
  * flushes under its write lock; the reference likewise has a single
  * ETL writer per store). Readers are unlimited and lock-free.
  *
  * Scale shape: the manifest grows with live partitions and the files
  * superseded within one retention window, not history size (it lists
  * file names, not stats), and replaces the per-query recursive
  * directory listing — the layer that collapses first on an object
  * store at 100 TB. A deployment outgrowing one JSON object per table
  * shards the partition map by bucket range; the read path is already
  * indirected through [[readTable]], so that change lands here, not in
  * the serving layer.
  *
  * Every store table is manifested: a table with no committed manifest
  * holds no committed data, whatever files its directory holds (a first
  * commit that died before its publish leaves exactly that;
  * [[deleteOrphans]] removes such files). A store written before
  * manifests existed is not read.
  */
object TableManifest {

  /** How long a superseded file stays on disk, in ms. A read resolves
    * the newest manifest and then opens the files it names; the read is
    * safe as long as that gap is under this bound, however many commits
    * land meanwhile. 60 s is over 30× the median end-to-end latency of
    * the ingest_serve benchmark (the daemon catching up while HTTP
    * readers, a poller and an exporter subscriber read the same store,
    * under 2 s on a 4-core host), so only a read stalled for far longer
    * than any request takes can lose a file; it costs the disk the
    * writer supersedes in one minute.
    */
  val RetentionMs: Long = 60000L

  /** A file a commit superseded — a data file relative to the table
    * root, or `_manifests/v<n>.json` — and the commit time (epoch ms).
    */
  final case class Tombstone(file: String, supersededMs: Long)

  /** One committed table version: partition dir name → data file names
    * (relative), plus the superseded files still awaiting deletion.
    */
  final case class Snapshot(version: Long, partitions: Map[String, Seq[String]],
      tombstones: Seq[Tombstone]) {
    def files(tablePath: String): Seq[String] =
      partitions.toSeq.sortBy(_._1).flatMap { case (part, fs) =>
        fs.sorted.map(f => s"$tablePath/$part/$f")
      }
  }

  private def manifestsDir(table: Path) = new Path(table, "_manifests")
  private def versionFile(table: Path, v: Long) =
    new Path(manifestsDir(table), f"v$v%019d.json")
  private val VersionRe = "v(\\d{19})\\.json".r

  /** The committed manifests' (version, FileStatus), from ONE listing of
    * `_manifests/` (empty when the table has none).
    */
  private def versionStatuses(fs: FileSystem, table: Path)
      : Iterator[(Long, org.apache.hadoop.fs.FileStatus)] = {
    val dir = manifestsDir(table)
    if (!fs.exists(dir)) Iterator.empty
    else fs.listStatus(dir).iterator.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(v) => Some((v.toLong, st))
        case _ => None
      }
    }
  }

  /** The newest committed snapshot. Absence (no `_manifests/`) means
    * nothing is committed; a PRESENT but unreadable newest manifest
    * throws — the write protocol makes that state impossible without
    * external damage, and silently falling back to a directory listing
    * would serve superseded generations as duplicates. The listed
    * manifest is still there when it is opened: [[commit]] deletes a
    * manifest only [[RetentionMs]] after its successor committed.
    */
  def latest(fs: FileSystem, tablePath: String): Option[Snapshot] = {
    val table = new Path(tablePath)
    val key = (fs.getUri.toString, tablePath)
    val newest = versionStatuses(fs, table).maxByOption(_._1)
    if (newest.isEmpty) snapshotCache.remove(key)
    newest.map { case (v, st) =>
      val cached = snapshotCache.get(key)
      if (cached != null && cached._1 == v && cached._2 == st.getModificationTime
          && cached._3 == st.getLen) cached._4
      else {
        val in = fs.open(st.getPath)
        val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val snap = parse(text, st.getModificationTime)
          .getOrElse(throw new java.io.IOException(s"damaged table manifest: ${st.getPath}"))
        snapshotCache.put(key, (v, st.getModificationTime, st.getLen, snap))
        snap
      }
    }
  }

  /** Parsed snapshots memoized per (filesystem, table path), validated
    * against the manifest file's identity — (version, mtime, length),
    * all free from the listing we do anyway: the per-request freshness
    * probe is then the `_manifests/` listing ALONE, no re-open and
    * re-parse of a JSON the process already holds. One live entry per
    * table (replaced on version bump, EVICTED when the manifests dir
    * vanishes — transient per-run stores must not accumulate dead
    * snapshots), so memory is bounded by the live table count. The
    * mtime+length guard covers the path a bare version key would not: a
    * store deleted and recreated at the same path restarts its version
    * numbering, and v1-of-the-new-store must not read as v1-of-the-old.
    * Residual window: a recreate landing inside one mtime tick of the
    * filesystem (ms locally, seconds on some object stores) with a
    * byte-identical manifest LENGTH — and even then the stale partition
    * map names files the new store does not have, so the read fails
    * loud (retention covers the writer's own commits, not external store
    * replacement).
    */
  private val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long, Long, Snapshot)]()

  /** Publish a new table version at time `now` (epoch ms). `replaced`
    * maps each rewritten partition dir to the files that now CONSTITUTE
    * it (the files this commit just wrote); `superseded` maps the same
    * keys to the files present in those directories BEFORE the write
    * (the writer's own pre-write listing — previous generation plus any
    * crash orphans). Steps, in crash-safe order:
    *
    *  1. resolve the previous snapshot (an empty one for a table's
    *     first commit — files a crashed earlier first commit left in
    *     OTHER partitions stay invisible until [[deleteOrphans]], and
    *     those in the partitions this commit touches are tombstoned
    *     through `superseded`);
    *  2. physically delete the previous snapshot's tombstones that were
    *     superseded more than [[RetentionMs]] before `now`;
    *  3. write version v+1 (tmp + rename) with the merged partition map
    *     and, as its tombstones, the still-pending ones plus everything
    *     superseded now: the replaced partitions' previous files and
    *     every older manifest no tombstone names yet (version v itself;
    *     in a store written before tombstones carried their time, also
    *     the one older manifest it kept).
    *
    * A crash before 3 leaves version v fully intact (new files are
    * invisible orphans, tombstoned by the next commit of the same
    * partitions); a crash after 2 only re-runs deletes the next commit
    * tolerates.
    */
  def commit(spark: SparkSession, tablePath: String,
      replaced: Map[String, Seq[String]],
      superseded: Map[String, Seq[String]],
      now: Long = System.currentTimeMillis()): Snapshot = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = latest(fs, tablePath).getOrElse(Snapshot(0L, Map.empty, Seq.empty))
    val (expired, pending) = prev.tombstones.partition(now - _.supersededMs > RetentionMs)
    expired.foreach { t =>
      try { fs.delete(new Path(table, t.file), false); () }
      catch { case _: java.io.FileNotFoundException => () }
    }
    val named = prev.tombstones.iterator.map(_.file).toSet
    val dataFiles = replaced.keysIterator.flatMap { k =>
      val keep = replaced(k).toSet
      (superseded.getOrElse(k, Seq.empty) ++ prev.partitions.getOrElse(k, Seq.empty))
        .filterNot(keep).map(f => s"$k/$f")
    }
    val manifests = versionStatuses(fs, table).collect {
      case (v, st) if v <= prev.version => s"_manifests/${st.getPath.getName}"
    }
    val fresh = (dataFiles ++ manifests).filterNot(named).toSeq.distinct.sorted
      .map(Tombstone(_, now))
    val parts = (prev.partitions ++ replaced).filter(_._2.nonEmpty)
    val next = Snapshot(prev.version + 1, parts, pending ++ fresh)
    val mdir = manifestsDir(table)
    fs.mkdirs(mdir)
    val tmp = new Path(mdir, s".v${next.version}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(render(next).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = versionFile(table, next.version)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"manifest publish rename failed: $dst")
    // any relation cached against this path (standing indexes rooted
    // under it) must re-resolve; the version-keyed read cache replaces
    // its entry on the version bump by itself
    graft.sources.RelationCache.invalidate(tablePath)
    next
  }

  /** THE writer-side protocol, shared by every manifested append site
    * (pulse commits and the daemon's pulses-dimension flush):
    * list the named partitions, run the caller's APPEND-mode write
    * (uniquely-named files only — Spark part files carry the write job's
    * UUID), diff the listings to find what the write added, and publish
    * one manifest version at `now` (read once the write is done)
    * replacing exactly the partitions that received files, with their
    * prior generation as the new version's tombstones. A partition in
    * `parts` that received nothing keeps its manifest entry untouched
    * (the zero-row-reload contract); a write that received nothing
    * anywhere publishes nothing.
    *
    * Centralized because the list→append→diff→commit dance IS the
    * snapshot-isolation guarantee — a hand-rolled copy per writer could
    * drift (e.g. one forgetting the nonEmpty filter would tombstone and
    * eventually DELETE a live partition's files).
    */
  def appendCommit(spark: SparkSession, tablePath: String, parts: Seq[String],
      now: => Long = System.currentTimeMillis())(append: => Unit): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = parts.map(p =>
      p -> listPartitionFiles(fs, tablePath, p).toSeq.sorted).toMap
    append
    val replaced = parts.map { p =>
      val after = listPartitionFiles(fs, tablePath, p)
      p -> (after -- before(p).toSet).toSeq.sorted
    }.toMap.filter(_._2.nonEmpty)
    if (replaced.nonEmpty) {
      commit(spark, tablePath, replaced,
        before.view.filterKeys(replaced.contains).toMap, now)
      ()
    }
  }

  /** Delete the data files of `tablePath` that the newest manifest
    * neither lists nor holds as a pending tombstone — what a commit that
    * died between its append and its publish leaves behind, in
    * partitions no later commit touched. Every file an older retained
    * manifest names is one of the two, since tombstones carry forward
    * until deleted. Needs no age check, but it must run while no write to
    * the table is in flight (the daemon runs it at start, before its
    * first commit): readers only open files a manifest names. Returns
    * how many files it deleted.
    */
  def deleteOrphans(fs: FileSystem, tablePath: String): Int = {
    val table = new Path(tablePath)
    if (!fs.exists(table)) 0
    else {
      val snap = latest(fs, tablePath)
      val named = snap.iterator.flatMap(s =>
        s.partitions.iterator.flatMap { case (k, files) => files.map(f => s"$k/$f") } ++
          s.tombstones.iterator.map(_.file)).toSet
      val orphans = fs.listStatus(table).iterator
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .flatMap { d =>
          val k = d.getPath.getName
          listPartitionFiles(fs, tablePath, k).iterator.map(f => s"$k/$f")
        }
        .filterNot(named).toSeq
      orphans.foreach(rel => fs.delete(new Path(table, rel), false))
      orphans.length
    }
  }

  /** The data files currently in `tablePath/partition` — the writer's
    * pre/post-write probes around an append.
    */
  def listPartitionFiles(fs: FileSystem, tablePath: String,
      partition: String): Set[String] = {
    val dir = new Path(s"$tablePath/$partition")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.collect {
      case st if st.isFile && isDataFile(st.getPath.getName) => st.getPath.getName
    }.toSet
  }

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") && name.endsWith(".parquet")

  // ---- reads -------------------------------------------------------------

  /** Manifest-aware table read — THE read path for store tables: the
    * newest snapshot's explicit file list, planned with `basePath` so
    * partition columns and their pruning behave exactly like a directory
    * read. The resolved relation is cached per (session, path, version),
    * so an unchanged store pays ZERO listings after its first request —
    * and staleness is structurally impossible, the version moves with
    * every commit. None when no manifest is committed (callers serve
    * their schema-stable empty): data files without a manifest are a
    * first commit that never published, and are never served.
    */
  def readTable(spark: SparkSession, tablePath: String): Option[DataFrame] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    latest(fs, tablePath).filter(_.partitions.nonEmpty).map { snap =>
      graft.sources.RelationCache.versionedParquet(spark, tablePath, snap.version) {
        spark.read.option("basePath", tablePath).parquet(snap.files(tablePath): _*)
      }
    }
  }

  /** A change token for cache keys: the manifest version (one `_manifests/`
    * listing, no recursive walk), None for a table with no manifest.
    */
  def versionToken(spark: SparkSession, tablePath: String): Option[String] = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    versionStatuses(fs, table).map(_._1).maxOption.map(v => s"m$v")
  }

  // ---- wire format ---------------------------------------------------------

  /** Snake-case JSON with sorted keys; a missing or null field fails the
    * read instead of defaulting.
    */
  private val json = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)

  /** The manifest shape before tombstones carried their commit time. */
  private final case class BareTombstones(version: Long,
      partitions: Map[String, Seq[String]], tombstones: Seq[String])

  private[ingest] def render(s: Snapshot): String = json.writeValueAsString(s)

  /** Parse [[render]]'s output, or the earlier bare-name shape, whose
    * tombstones read as superseded at `bareMs` (the manifest file's
    * mtime, so an existing store upgrades on its next commit). Any other
    * shape reads None (and [[latest]] then fails loud).
    */
  private[ingest] def parse(text: String, bareMs: Long): Option[Snapshot] =
    try Some(json.readValue(text, classOf[Snapshot]))
    catch {
      case NonFatal(_) =>
        try {
          val b = json.readValue(text, classOf[BareTombstones])
          Some(Snapshot(b.version, b.partitions, b.tombstones.map(Tombstone(_, bareMs))))
        } catch { case NonFatal(_) => None }
    }
}
