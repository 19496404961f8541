package graft.ingest

import java.io.FileNotFoundException
import java.util.UUID

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper,
  PropertyNamingStrategies, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Per-commit snapshot manifests for the store's partitioned tables —
  * the snapshot-isolation layer the reference gets for free from
  * Postgres MVCC (`etl/dbconn/connection.go:13-22`).
  *
  * The problem it deletes: dynamic partition overwrite swaps a partition
  * directory by delete-then-rename, so a serving read that LISTED the
  * directory before a hot-pulse rewrite could lose its files mid-scan.
  * With manifests, a reader never lists a live directory at all:
  *
  *  - every commit ([[writeRows]]) ADDS files whose names carry a fresh
  *    UUID, so it never touches a file a reader may hold, and then
  *    atomically publishes a new manifest
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
  * A commit can also carry the writer's own metadata in the same atomic
  * publish as its rows — the pulses table's restart [[Summary]] — and
  * can re-lay a table out whole (`dropOthers`: the partitions it does
  * not rewrite leave the map, their files tombstoned like any
  * superseded generation). A crash before the publish leaves the old
  * version, summary included, intact; there is no second file to keep
  * in step with the data, and the version numbering never restarts.
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
  * shards the partition map by bucket range; the read paths are already
  * indirected through [[readTable]] and [[readRows]], so that change
  * lands here, not in the serving layer.
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

  /** The pulses table's restart summary, committed in the same publish
    * as the rows it describes: the sequential high-water mark, the first
    * `pulse_bucket` holding a pulse that is not complete and sequential
    * (the tail bucket when none is open), and the bucket span the
    * table's partitions are laid out at.
    */
  final case class Summary(seqPulse: Long, frontierBucket: Long, span: Long)

  /** One committed table version: partition dir name → data file names
    * (relative), the superseded files still awaiting deletion, and the
    * writer's summary, if it committed one.
    */
  final case class Snapshot(version: Long, partitions: Map[String, Seq[String]],
      tombstones: Seq[Tombstone], summary: Option[Summary] = None) {
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
      : Iterator[(Long, FileStatus)] =
    listOrEmpty(fs, manifestsDir(table)).iterator.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(v) => Some((v.toLong, st))
        case _ => None
      }
    }

  /** One `listStatus` of `dir`, empty when it does not exist: a single FS
    * call where an `exists` probe first would make two.
    */
  private def listOrEmpty(fs: FileSystem, dir: Path): Array[FileStatus] =
    try fs.listStatus(dir)
    catch { case _: FileNotFoundException => Array.empty }

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
    * crash orphans). With `dropOthers`, every partition `replaced` does
    * not name leaves the map too, its files tombstoned like a replaced
    * generation (a whole-table re-layout). `summary` is the new
    * version's own; it is not carried forward from the previous one.
    * Steps, in crash-safe order:
    *
    *  1. resolve the previous snapshot (an empty one for a table's
    *     first commit — files a crashed earlier first commit left in
    *     OTHER partitions stay invisible until [[deleteOrphans]], and
    *     those in the partitions this commit touches are tombstoned
    *     through `superseded`);
    *  2. physically delete the previous snapshot's tombstones that were
    *     superseded more than [[RetentionMs]] before `now`, and the
    *     directory of a partition no longer in the map once it is empty;
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
    *
    * On a service session's `file:` file system
    * ([[graft.Sessions.LocalFs]]) the manifest's create, its `.crc` and
    * a new `_manifests/` directory fork nothing: their permission is set
    * in-process, so a publish costs metadata I/O only.
    */
  def commit(spark: SparkSession, tablePath: String,
      replaced: Map[String, Seq[String]],
      superseded: Map[String, Seq[String]],
      now: Long = System.currentTimeMillis(),
      summary: Option[Summary] = None,
      dropOthers: Boolean = false): Snapshot = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = latest(fs, tablePath).getOrElse(Snapshot(0L, Map.empty, Seq.empty))
    val (expired, pending) = prev.tombstones.partition(now - _.supersededMs > RetentionMs)
    expired.foreach { t =>
      try { fs.delete(new Path(table, t.file), false); () }
      catch { case _: java.io.FileNotFoundException => () }
    }
    val named = prev.tombstones.iterator.map(_.file).toSet
    val parts = ((if (dropOthers) Map.empty[String, Seq[String]] else prev.partitions) ++ replaced)
      .filter(_._2.nonEmpty)
    def paths(m: Map[String, Seq[String]]) =
      m.iterator.flatMap { case (k, names) => names.map(n => s"$k/$n") }
    val live = paths(parts).toSet
    // a partition dir that left the map an earlier commit goes once its
    // last tombstone is deleted; the delete is non-recursive, so a dir
    // still holding any file (a crash orphan) stays
    expired.iterator.map(_.file).filterNot(_.startsWith("_manifests/"))
      .map(_.takeWhile(_ != '/')).toSet
      .filterNot(k => parts.contains(k) || prev.partitions.contains(k) ||
        pending.exists(_.file.startsWith(s"$k/")))
      .foreach(deleteIfEmpty(fs, table, _))
    val dataFiles = (paths(prev.partitions) ++ paths(superseded)).filterNot(live)
    val manifests = versionStatuses(fs, table).collect {
      case (v, st) if v <= prev.version => s"_manifests/${st.getPath.getName}"
    }
    val fresh = (dataFiles ++ manifests).filterNot(named).toSeq.distinct.sorted
      .map(Tombstone(_, now))
    val next = Snapshot(prev.version + 1, parts, pending ++ fresh, summary)
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

  /** THE store writer, shared by every store table (pulse commits and
    * the daemon's pulses-dimension flush): write `rows` — `schema` rows,
    * `partCol` included — into the table at `tablePath` and publish one
    * manifest version at `now` (read once the files are written) that
    * replaces exactly the partitions the rows fall in, with each one's
    * pre-write listing as the new version's tombstones. A partition with
    * no rows keeps its manifest entry untouched (the zero-row-reload
    * contract), unless `dropOthers` drops it (see [[commit]], which also
    * takes `summary`); no rows at all writes and publishes nothing (None).
    *
    * Each partition gets ONE file, `part-00000-<uuid>.c000<ext>`, holding
    * its rows in the order given, written in the calling thread by
    * Spark's own parquet writer (`ParquetFileFormat.prepareWrite` and its
    * `OutputWriter`) with the codec, timestamp type and footer metadata
    * a `DataFrameWriter` takes from the session conf, over the data
    * schema it stores (`schema` minus the partition column, nullability
    * kept). No Spark job runs and no output committer stages the
    * files: the rows are already in the driver, the fresh UUID keeps the
    * names unique, and the manifest alone decides visibility. A write
    * that throws publishes nothing and deletes the files it wrote. On a
    * service session's `file:` file system ([[graft.Sessions.LocalFs]])
    * creating a data file, its `.crc` and a new partition directory
    * forks no `chmod` process.
    *
    * Centralized because list → write → commit IS the snapshot-isolation
    * guarantee — a hand-rolled copy per writer could drift (e.g. one
    * tombstoning a partition it did not rewrite would eventually DELETE
    * live files).
    */
  def writeRows(spark: SparkSession, tablePath: String, partCol: String,
      schema: StructType, rows: Seq[Row],
      now: => Long = System.currentTimeMillis(),
      summary: Option[Summary] = None,
      dropOthers: Boolean = false): Option[Snapshot] =
    if (rows.isEmpty) None
    else {
      val p = schema.fieldIndex(partCol)
      val keep = schema.indices.filterNot(_ == p)
      val dataSchema = StructType(keep.map(schema(_)))
      val groups = rows.groupBy { r =>
        require(!r.isNullAt(p), s"null $partCol in a row for $tablePath")
        s"$partCol=${r.get(p)}"
      }
      val session = spark.conf.getAll
      val w = writers.compute((spark.sparkContext.applicationId, dataSchema), (_, built) =>
        if (built != null && built.session == session) built
        else ParquetWriter(spark, session, dataSchema))
      val name = s"part-00000-${UUID.randomUUID()}.c000${w.extension}"
      // the interpreted converter: an encoder's serializer would generate
      // and compile code on every call, which costs more than these rows
      val toInternal = CatalystTypeConverters.createToCatalystConverter(dataSchema)
      val fs = new Path(tablePath).getFileSystem(w.conf)
      val before = groups.keys.map(k => k -> listPartitionFiles(fs, tablePath, k).toSeq.sorted).toMap
      val written = mutable.ArrayBuffer.empty[Path]
      try groups.foreach { case (k, rs) =>
        val file = new Path(s"$tablePath/$k/$name")
        written += file
        val out = w.factory.newInstance(file.toString, dataSchema, w.ctx)
        try rs.foreach(r =>
          out.write(toInternal(Row.fromSeq(keep.map(r.get))).asInstanceOf[InternalRow]))
        finally out.close()
      } catch {
        case NonFatal(e) =>
          written.foreach { f =>
            try { fs.delete(f, false); () } catch { case NonFatal(_) => () }
          }
          throw e
      }
      Some(commit(spark, tablePath, groups.keys.map(_ -> Seq(name)).toMap, before, now,
        summary, dropOthers))
    }

  /** Spark's parquet writer for one data schema under the session conf
    * `session`, prepared once: the session Hadoop conf, the job
    * [[writeRows]]' files belong to, the `OutputWriterFactory` and the
    * task context each file is opened in.
    */
  private final case class ParquetWriter(session: Map[String, String], conf: Configuration,
      factory: OutputWriterFactory, ctx: TaskAttemptContextImpl) {
    val extension: String = factory.getFileExtension(ctx)
  }

  private object ParquetWriter {
    def apply(spark: SparkSession, session: Map[String, String],
        dataSchema: StructType): ParquetWriter = {
      val job = Job.getInstance(sessionHadoopConf(spark, session))
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
      ParquetWriter(session, job.getConfiguration, factory,
        new TaskAttemptContextImpl(job.getConfiguration,
          new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)))
    }
  }

  /** The writer [[writeRows]] uses per (context, data schema), like
    * [[readRows]]' readers, rebuilt only when the session conf it was
    * prepared under changes (the codec, the timestamp type and the footer
    * metadata follow the session conf): a build copies the whole Hadoop
    * conf and prepares a job, which costs more than the rows of a pulse.
    */
  private val writers =
    new java.util.concurrent.ConcurrentHashMap[(String, StructType), ParquetWriter]()

  /** The session conf over the context's Hadoop conf, as Spark's
    * `SessionState.newHadoopConf` builds it for a DataFrameWriter or a scan.
    */
  private def sessionHadoopConf(spark: SparkSession,
      session: Map[String, String]): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    session.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Delete the data files of `tablePath` that the newest manifest
    * neither lists nor holds as a pending tombstone — what a commit that
    * died between its file writes and its publish leaves behind, in
    * partitions no later commit touched — and then the dirs this empties
    * of partitions out of the map. Every file an older retained
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
      orphans.map(_.takeWhile(_ != '/')).distinct
        .filterNot(k => named.exists(_.startsWith(s"$k/")))
        .foreach(deleteIfEmpty(fs, table, _))
      orphans.length
    }
  }

  /** Delete the partition dir `partition` of `table` if it is empty: the
    * delete is non-recursive, so a dir still holding a file stays.
    */
  private def deleteIfEmpty(fs: FileSystem, table: Path, partition: String): Unit =
    try { fs.delete(new Path(table, partition), false); () }
    catch { case _: java.io.IOException => () }

  /** The data files currently in `tablePath/partition` — the writer's
    * pre-write listing of a partition it replaces, and the orphan sweep's.
    */
  def listPartitionFiles(fs: FileSystem, tablePath: String,
      partition: String): Set[String] =
    listOrEmpty(fs, new Path(s"$tablePath/$partition")).iterator.collect {
      case st if st.isFile && isDataFile(st.getPath.getName) => st.getPath.getName
    }.toSet

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
  def readTable(spark: SparkSession, tablePath: String): Option[DataFrame] =
    readTable(spark, tablePath, snapshot(spark, tablePath))

  /** [[readTable]] of the snapshot `snap` of `tablePath`: a request that
    * already resolved the table's snapshot reads that version, with no
    * second listing that a commit could move in between.
    */
  def readTable(spark: SparkSession, tablePath: String,
      snap: Option[Snapshot]): Option[DataFrame] =
    snap.filter(_.partitions.nonEmpty).map { s =>
      graft.sources.RelationCache.versionedParquet(spark, tablePath, s.version) {
        spark.read.option("basePath", tablePath).parquet(s.files(tablePath): _*)
      }
    }

  /** The newest committed snapshot of `tablePath` ([[latest]] on the
    * session's file system).
    */
  def snapshot(spark: SparkSession, tablePath: String): Option[Snapshot] =
    latest(new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration),
      tablePath)

  /** THE driver reader, the read twin of [[writeRows]]: the rows of the
    * `partitions` named (dir names, `partCol=value`) as `snap` lists their
    * files — a partition `snap` does not list reads no rows — in that
    * order, each file's rows in file order. A row holds `columns` of the
    * table's stored `schema`, null where the file holds null, then
    * `partCol` as a long.
    *
    * Each file is read in the calling thread by Spark's own parquet
    * reader (`ParquetFileFormat.buildReaderWithPartitionValues`, row
    * mode), with the session conf a scan would use, and only the columns
    * asked for are decoded. No Spark job runs, no directory is listed,
    * no footer is read for schema inference (the manifest names the
    * files and the caller knows the schema), and no Catalyst plan is
    * built: the caller works on the rows themselves. Nothing read is
    * cached; the reader itself is built once per (context, table schema,
    * columns), because each build broadcasts the Hadoop conf.
    */
  def readRows(spark: SparkSession, tablePath: String, snap: Snapshot,
      partitions: Iterable[String], partCol: String, schema: StructType,
      columns: Seq[String]): Vector[InternalRow] = {
    val data = StructType(schema.filterNot(_.name == partCol).map(_.copy(nullable = true)))
    val read = readers.computeIfAbsent(
      (spark.sparkContext.applicationId, partCol, data, columns), _ =>
        new ParquetFileFormat().buildReaderWithPartitionValues(spark, data,
          StructType(Seq(StructField(partCol, LongType, nullable = false))),
          StructType(columns.map(data(_))), Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          sessionHadoopConf(spark, spark.conf.getAll)))
    partitions.iterator.distinct.flatMap { k =>
      val value = InternalRow(k.stripPrefix(s"$partCol=").toLong)
      // one split spanning the whole file: the reader takes the file's
      // length from the file system when it opens the footer
      snap.partitions.getOrElse(k, Nil).sorted.iterator.map(f =>
        PartitionedFile(value, SparkPath.fromPath(new Path(s"$tablePath/$k/$f")),
          0L, Long.MaxValue))
    }.flatMap { file =>
      // row mode reuses one row per batch: copy each, and close the file
      // even when a read fails part way
      val it = read(file)
      try it.map(_.copy()).toVector
      finally it match { case c: java.io.Closeable => c.close(); case _ => () }
    }.toVector
  }

  private val readers = new java.util.concurrent.ConcurrentHashMap[
    (String, String, StructType, Seq[String]), PartitionedFile => Iterator[InternalRow]]()

  // ---- wire format ---------------------------------------------------------

  /** Snake-case JSON with sorted keys; an absent summary is left out. A
    * missing or null field fails the read instead of defaulting.
    */
  private val json = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setDefaultPropertyInclusion(JsonInclude.Include.NON_ABSENT)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)

  /** The manifest shape with no summary: every table but a summarizing
    * pulses table, and a pulses table written before summaries existed.
    */
  private final case class NoSummary(version: Long,
      partitions: Map[String, Seq[String]], tombstones: Seq[Tombstone])

  /** The manifest shape before tombstones carried their commit time. */
  private final case class BareTombstones(version: Long,
      partitions: Map[String, Seq[String]], tombstones: Seq[String])

  private[ingest] def render(s: Snapshot): String = json.writeValueAsString(s)

  /** Parse [[render]]'s output (with or without a summary), or the
    * earlier bare-name shape, whose tombstones read as superseded at
    * `bareMs` (the manifest file's mtime, so an existing store upgrades
    * on its next commit). Any other shape reads None (and [[latest]]
    * then fails loud).
    */
  private[ingest] def parse(text: String, bareMs: Long): Option[Snapshot] = {
    def as[T](shape: Class[T]): Option[T] =
      try Some(json.readValue(text, shape)) catch { case NonFatal(_) => None }
    as(classOf[Snapshot])
      .orElse(as(classOf[NoSummary]).map(n => Snapshot(n.version, n.partitions, n.tombstones)))
      .orElse(as(classOf[BareTombstones]).map(b =>
        Snapshot(b.version, b.partitions, b.tombstones.map(Tombstone(_, bareMs)))))
  }
}
