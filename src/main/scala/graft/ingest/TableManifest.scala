package graft.ingest

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-commit snapshot manifests for the store's partitioned tables —
  * the snapshot-isolation layer the reference gets for free from
  * Postgres MVCC (`etl/dbconn/connection.go:13-22`).
  *
  * The problem it deletes: dynamic partition overwrite swaps a partition
  * directory by delete-then-rename, so a serving read that LISTED the
  * directory before a hot-pulse rewrite could lose its files mid-scan —
  * a retryable-500 class the HTTP layer used to paper over with a
  * one-shot retry, plus a narrower silently-short-page window inside the
  * two metadata ops. With manifests, a reader never lists a live
  * directory at all:
  *
  *  - every commit APPENDS uniquely-named files (Spark part files carry
  *    the write job's UUID) and then atomically publishes a new manifest
  *    version — `_manifests/v<n>.json`, written to a dot-tmp sibling and
  *    renamed — mapping each partition to exactly its current files;
  *  - readers resolve the newest manifest (one tiny-dir listing + one
  *    small JSON read, never a recursive walk) and plan over that
  *    explicit file list, so a racing rewrite of the same pulse cannot
  *    change or tear the set mid-request: the page served is always the
  *    page some committed version defined;
  *  - files superseded by commit v are recorded as v's `tombstones` and
  *    physically deleted only when v+1 commits — one full commit cycle
  *    of grace — so a reader planned against v-1 survives v entirely.
  *    The residual window (a reader pinned across TWO commits of the
  *    same table while mid-scan) is micro-vs-seconds at any realistic
  *    flush cadence, but back-to-back commits on a loaded host do hit
  *    it, so the HTTP layer re-runs a request that lost a file
  *    ([[graft.api.HttpApi.isScanRace]]); disk overhead is bounded at
  *    one superseded generation per hot partition.
  *
  * Contract: ONE writer per table (the daemon serializes commits and
  * flushes under its write lock; the reference likewise has a single
  * ETL writer per store). Readers are unlimited and lock-free.
  *
  * Scale shape: the manifest grows with live partitions, not history
  * size (it lists file names, not stats), and replaces the per-query
  * recursive directory listing — the layer that collapses first on an
  * object store at 100 TB. A deployment outgrowing one JSON object per
  * table shards the partition map by bucket range; the read path is
  * already indirected through [[readTable]], so that change lands here,
  * not in the serving layer.
  *
  * Every store table is manifested: a table with no committed manifest
  * holds no committed data, whatever files its directory holds (a first
  * commit that died before its publish leaves exactly that). A store
  * written before manifests existed is not read.
  */
object TableManifest {

  /** One committed table version: partition dir name → data file names
    * (relative), plus the files this commit superseded (deleted when the
    * NEXT version commits).
    */
  final case class Snapshot(version: Long, partitions: Map[String, Seq[String]],
      tombstones: Seq[String]) {
    def files(tablePath: String): Seq[String] =
      partitions.toSeq.sortBy(_._1).flatMap { case (part, fs) =>
        fs.sorted.map(f => s"$tablePath/$part/$f")
      }
  }

  private def manifestsDir(table: Path) = new Path(table, "_manifests")
  private def versionFile(table: Path, v: Long) =
    new Path(manifestsDir(table), f"v$v%019d.json")
  private val VersionRe = "v(\\d{19})\\.json".r

  private def latestVersion(fs: FileSystem, table: Path): Option[Long] =
    latestVersionStatus(fs, table).map(_._1)

  /** The newest committed manifest's (version, FileStatus) — ONE listing
    * serving both the version probe and the snapshot read (two copies of
    * the listing/regex/max dance would drift).
    */
  private def latestVersionStatus(fs: FileSystem, table: Path)
      : Option[(Long, org.apache.hadoop.fs.FileStatus)] = {
    val dir = manifestsDir(table)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).iterator.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(v) => Some((v.toLong, st))
        case _ => None
      }
    }.maxByOption(_._1)
  }

  /** The newest committed snapshot. Absence (no `_manifests/`) means
    * nothing is committed; a PRESENT but unreadable newest manifest
    * throws — the write protocol makes that state impossible without
    * external damage, and silently falling back to a directory listing
    * would serve superseded generations as duplicates.
    *
    * One narrow race is retried instead of thrown: [[commit]]'s step-4
    * prune deletes manifests older than the previous version, so a
    * reader that listed version v and then lost the CPU long enough for
    * TWO commits (v+1 and v+2) to land finds v's file gone at open time.
    * Re-resolving picks up whatever is newest now; each retry can in
    * principle lose the same microseconds-vs-seconds race again under
    * sustained commit churn. Three immediate re-resolutions proved NOT
    * enough on a saturated box (r17: the StoreServeSpec churn race pin
    * failed once under the full parallel suite — a multi-hundred-ms GC
    * or scheduler stall straddled all three back-to-back attempts while
    * the writer kept committing), so later attempts back off briefly:
    * the loser of a timing race must stop re-entering it at the same
    * cadence that lost. Six attempts with 10/20/40/80 ms pauses bounds
    * the path at ~150 ms worst case — still request-scale — before
    * propagating; a failure past that means external damage (the
    * zero-500 serving contract rests on this path never throwing for
    * protocol-internal reasons).
    */
  def latest(fs: FileSystem, tablePath: String): Option[Snapshot] = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return latestOnce(fs, tablePath)
      catch {
        case e: java.io.FileNotFoundException =>
          if (attempt >= 6) throw e
          if (attempt >= 2) Thread.sleep(10L << (attempt - 2))
      }
    }
    None // unreachable
  }

  /** Parsed snapshots memoized per (filesystem, table path), validated
    * against the manifest file's identity — (version, mtime, length),
    * all free from the listing we do anyway: the per-request freshness
    * probe is then the tiny `_manifests/` listing ALONE, no re-open and
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
    * loud (the zero-500 contract covers protocol-internal races, not
    * external store replacement, same as the tombstone-grace section).
    */
  private val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long, Long, Snapshot)]()

  private def latestOnce(fs: FileSystem, tablePath: String): Option[Snapshot] = {
    val table = new Path(tablePath)
    val key = (fs.getUri.toString, tablePath)
    val newest = latestVersionStatus(fs, table)
    if (newest.isEmpty) snapshotCache.remove(key)
    newest.map { case (v, st) =>
      val cached = snapshotCache.get(key)
      if (cached != null && cached._1 == v && cached._2 == st.getModificationTime
          && cached._3 == st.getLen) cached._4
      else {
        val p = versionFile(table, v)
        val bytes = {
          val in = fs.open(p)
          try in.readAllBytes() finally in.close()
        }
        val snap = parse(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          .getOrElse(throw new java.io.IOException(s"damaged table manifest: $p"))
        snapshotCache.put(key, (v, st.getModificationTime, st.getLen, snap))
        snap
      }
    }
  }

  /** Publish a new table version. `replaced` maps each rewritten
    * partition dir to the files that now CONSTITUTE it (the files this
    * commit just wrote); `superseded` maps the same keys to the files
    * present in those directories BEFORE the write (the writer's own
    * pre-write listing — previous generation plus any crash orphans).
    * Steps, in crash-safe order:
    *
    *  1. resolve the previous snapshot (an empty one for a table's
    *     first commit — files a crashed earlier first commit left in
    *     OTHER partitions stay invisible, and those in the partitions
    *     this commit touches are tombstoned through `superseded`);
    *  2. physically delete the PREVIOUS version's tombstones — they have
    *     now been superseded for one full commit cycle;
    *  3. write version v+1 (tmp + rename) with the merged partition map
    *     and the newly superseded files as its tombstones;
    *  4. prune manifest files older than v (keep v and v+1).
    *
    * A crash before 3 leaves version v fully intact (new files are
    * invisible orphans, tombstoned again by the next commit of the same
    * partitions); a crash after 3 leaves v+1 committed with step-4
    * pruning re-done implicitly by the next commit.
    */
  def commit(spark: SparkSession, tablePath: String,
      replaced: Map[String, Seq[String]],
      superseded: Map[String, Seq[String]]): Snapshot = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = latest(fs, tablePath).getOrElse(Snapshot(0L, Map.empty, Seq.empty))
    prev.tombstones.foreach { rel =>
      try { fs.delete(new Path(table, rel), false); () }
      catch { case _: java.io.FileNotFoundException => () }
    }
    val tombs = replaced.keysIterator.flatMap { k =>
      val keep = replaced(k).toSet
      (superseded.getOrElse(k, Seq.empty) ++ prev.partitions.getOrElse(k, Seq.empty))
        .distinct.filterNot(keep).map(f => s"$k/$f")
    }.toSeq.sorted
    val parts = (prev.partitions ++ replaced).filter(_._2.nonEmpty)
    val next = Snapshot(prev.version + 1, parts, tombs)
    val mdir = manifestsDir(table)
    fs.mkdirs(mdir)
    val tmp = new Path(mdir, s".v${next.version}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(render(next).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = versionFile(table, next.version)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"manifest publish rename failed: $dst")
    // prune old manifests (keep prev + next); tolerate races/absence
    fs.listStatus(mdir).foreach { st =>
      st.getPath.getName match {
        case VersionRe(v) if v.toLong < prev.version =>
          try { fs.delete(st.getPath, false); () } catch { case NonFatal(_) => () }
        case _ => ()
      }
    }
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
    * one manifest version replacing exactly the partitions that received
    * files, with their prior generation as the new version's tombstones.
    * A partition in `parts` that received nothing keeps its manifest
    * entry untouched (the zero-row-reload contract); a write that
    * received nothing anywhere publishes nothing.
    *
    * Centralized because the list→append→diff→commit dance IS the
    * snapshot-isolation guarantee — a hand-rolled copy per writer could
    * drift (e.g. one forgetting the nonEmpty filter would tombstone and
    * eventually DELETE a live partition's files).
    */
  def appendCommit(spark: SparkSession, tablePath: String, parts: Seq[String])(
      append: => Unit): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = parts.map(p =>
      p -> listPartitionFiles(fs, tablePath, p).toSeq.sorted).toMap
    append
    val replaced = parts.map { p =>
      val now = listPartitionFiles(fs, tablePath, p)
      p -> (now -- before(p).toSet).toSeq.sorted
    }.toMap.filter(_._2.nonEmpty)
    if (replaced.nonEmpty) {
      commit(spark, tablePath, replaced,
        before.view.filterKeys(replaced.contains).toMap)
      ()
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

  /** A change token for cache keys: the manifest version (one tiny-dir
    * listing, no recursive walk), None for a table with no manifest.
    */
  def versionToken(spark: SparkSession, tablePath: String): Option[String] = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersion(fs, table).map(v => s"m$v")
  }

  // ---- wire format ---------------------------------------------------------

  /** Compact JSON, hand-rendered: partition dir names and part-file
    * names are path-safe by construction (validated here — a quote or
    * backslash would mean something upstream is very wrong).
    */
  private def render(s: Snapshot): String = {
    def str(v: String): String = {
      require(!v.exists(c => c == '"' || c == '\\' || c < ' '),
        s"unencodable name in manifest: $v")
      "\"" + v + "\""
    }
    val parts = s.partitions.toSeq.sortBy(_._1).map { case (k, fs) =>
      str(k) + ":" + fs.sorted.map(str).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val tombs = s.tombstones.sorted.map(str).mkString("[", ",", "]")
    s"""{"version":${s.version},"partitions":$parts,"tombstones":$tombs}"""
  }

  /** Parse [[render]]'s output; any shape surprise reads None (and
    * [[latest]] then fails loud).
    */
  private[ingest] def parse(json: String): Option[Snapshot] =
    try {
      val vRe = "\"version\":(\\d+)".r
      val version = vRe.findFirstMatchIn(json).map(_.group(1).toLong)
      // find the span of `"name":<open>...<close>` with a depth counter
      // (the partitions map nests arrays; names/files never contain the
      // bracket characters — render() validates)
      def section(name: String, open: Char, close: Char): Option[String] = {
        val at = json.indexOf("\"" + name + "\":" + open)
        if (at < 0) None
        else {
          val start = json.indexOf(open, at)
          var i = start
          var depth = 0
          var end = -1
          while (i < json.length && end < 0) {
            val c = json.charAt(i)
            if (c == open) depth += 1
            else if (c == close) { depth -= 1; if (depth == 0) end = i }
            i += 1
          }
          if (end < 0) None else Some(json.substring(start + 1, end))
        }
      }
      val pairRe = "\"([^\"]+)\":\\[([^\\]]*)\\]".r
      val strRe = "\"([^\"]+)\"".r
      for {
        v <- version
        pbody <- section("partitions", '{', '}')
        tbody <- section("tombstones", '[', ']')
      } yield Snapshot(
        v,
        pairRe.findAllMatchIn(pbody).map { m =>
          m.group(1) -> strRe.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq
        }.toMap,
        strRe.findAllMatchIn(tbody).map(_.group(1)).toSeq)
    } catch { case NonFatal(_) => None }
}
