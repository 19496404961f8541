package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TableManifestSpec extends SparkSpec {

  private def fs(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString

  /** One manifested commit of `tag` rows into `pulses`, committed at
    * time `at` — the specs' substituted clock.
    */
  private def commitAt(table: String, pulses: Seq[Long], tag: String, at: Long): Unit = {
    import spark.implicits._
    commitFrame(pulses.map(p => (p, "0", tag)).toDF("pulse_number", "jet_id", "payload"),
      table, now = at)
    ()
  }

  test("render/parse round trip and damage handling") {
    import TableManifest.{Snapshot, Summary, Tombstone, parse, render}
    val parts = Map("pulse_number=65546" -> Seq("part-a.parquet", "part-b.parquet"),
      "pulse_number=65556" -> Seq("part-c.parquet"))
    val snap = Snapshot(7L, parts, Seq(
      Tombstone("_manifests/v0000000000000000006.json", 1700000000123L),
      Tombstone("pulse_number=65546/part-old.parquet", 1700000000123L)))
    assert(parse(render(snap), 0L).contains(snap))
    val summarized = snap.copy(summary = Some(Summary(65546L, 655L, 100L)))
    assert(render(summarized).contains(""""summary":{"""), render(summarized))
    assert(parse(render(summarized), 0L).contains(summarized))
    // the shape before manifests carried a summary (every table but the
    // daemon's pulses table still has it): the summary reads absent
    val noSummary =
      """{"partitions":{"pulse_number=65546":["part-a.parquet","part-b.parquet"],""" +
      """"pulse_number=65556":["part-c.parquet"]},"tombstones":[""" +
      """{"file":"_manifests/v0000000000000000006.json","superseded_ms":1700000000123},""" +
      """{"file":"pulse_number=65546/part-old.parquet","superseded_ms":1700000000123}],""" +
      """"version":7}"""
    assert(!render(snap).contains("summary"), "an absent summary is left out of the JSON")
    assert(parse(noSummary, 0L).contains(snap))
    // the shape before tombstones carried their time: bare names, read as
    // superseded at the manifest file's mtime
    val bare =
      """{"version":7,"partitions":{"pulse_number=65546":["part-a.parquet","part-b.parquet"],""" +
      """"pulse_number=65556":["part-c.parquet"]},""" +
      """"tombstones":["pulse_number=65546/part-old.parquet"]}"""
    assert(parse(bare, 42L).contains(Snapshot(7L, parts,
      Seq(Tombstone("pulse_number=65546/part-old.parquet", 42L)))))
    assert(parse("""{"version":1""", 0L).isEmpty, "torn JSON reads None")
    assert(parse("""{"partitions":{}}""", 0L).isEmpty)
    assert(parse("""{"version":1,"partitions":{},"tombstones":[{"file":"x"}]}""", 0L).isEmpty,
      "a tombstone without its time reads None")
    assert(parse("""{"version":1,"partitions":{},"tombstones":[],"summary":{"span":1}}""",
      0L).isEmpty, "a summary missing a field reads None")
  }

  test("commit lifecycle under retention: a superseded file and an old " +
      "manifest survive every commit inside RetentionMs, and the first " +
      "commit past it deletes them") {
    val table = s"${tmp()}/records"
    val f = fs(table)
    val mdir = new org.apache.hadoop.fs.Path(s"$table/_manifests")
    def manifests = f.listStatus(mdir).map(_.getPath.getName).sorted.toSeq
    def onDisk = TableManifest.listPartitionFiles(f, table, "pulse_number=65546")
    val t0 = 1700000000000L
    commitAt(table, Seq(65546L, 65556L), "v1", t0)
    val s1 = TableManifest.latest(f, table).get
    assert(s1.version == 1 && s1.partitions.keySet ==
      Set("pulse_number=65546", "pulse_number=65556"))
    assert(s1.tombstones.isEmpty, "first commit supersedes nothing")
    val gen1 = s1.partitions("pulse_number=65546").toSet
    val v1 = manifests.head

    val superseded = t0 + 1000L
    commitAt(table, Seq(65546L), "v2", superseded)
    val s2 = TableManifest.latest(f, table).get
    assert(s2.version == 2)
    assert((s2.partitions("pulse_number=65546").toSet intersect gen1).isEmpty,
      "replace: the manifest lists only the new generation")
    assert(s2.tombstones.toSet == (gen1.map(g => s"pulse_number=65546/$g") + s"_manifests/$v1")
      .map(TableManifest.Tombstone(_, superseded)), s"tombstones: ${s2.tombstones}")

    // any number of commits inside the window deletes neither, and a
    // tombstone keeps the time it was first superseded at
    val inside = Seq(2000L, 30000L, 59999L, TableManifest.RetentionMs).map(superseded + _)
    inside.zipWithIndex.foreach { case (at, i) =>
      commitAt(table, Seq(65546L), s"in$i", at)
      assert(gen1.subsetOf(onDisk), s"a superseded file was deleted inside the window at $at")
      assert(manifests.contains(v1), s"the old manifest was deleted inside the window at $at")
    }
    assert(TableManifest.latest(f, table).get.tombstones
      .filter(_.file.contains(gen1.head)).map(_.supersededMs) == Seq(superseded))

    commitAt(table, Seq(65546L), "past", superseded + TableManifest.RetentionMs + 1L)
    assert((onDisk intersect gen1).isEmpty, "the first commit past the window deletes gen1")
    assert(!manifests.contains(v1), s"and the manifest it superseded: $manifests")
    val last = TableManifest.latest(f, table).get
    assert(last.version == 7 && manifests.length == 6, s"kept: $manifests")
    assert(!last.tombstones.exists(t => t.supersededMs == superseded),
      s"deleted files leave the tombstone list: ${last.tombstones}")
    assert(TableManifest.readTable(spark, table).get.count() == 2)
  }

  test("a dropOthers commit keeps only the partitions it writes; a summary " +
      "is not carried forward") {
    import spark.implicits._
    val table = s"${tmp()}/pulses"
    val f = fs(table)
    val t0 = 1700000000000L
    val summary = TableManifest.Summary(65556L, 6555L, 10L)
    def rows(pulses: Seq[Long]) =
      pulses.map(p => (p, "0", "x")).toDF("pulse_number", "jet_id", "payload").collect().toSeq
    val schema = Seq((0L, "", "")).toDF("pulse_number", "jet_id", "payload").schema
    TableManifest.writeRows(spark, table, "pulse_number", schema, rows(Seq(65546L, 65556L)),
      t0, summary = Some(summary))
    val s1 = TableManifest.latest(f, table).get
    assert(s1.summary.contains(summary))
    val gen1 = s1.partitions.toSeq.flatMap { case (k, fs) => fs.map(n => s"$k/$n") }
    TableManifest.writeRows(spark, table, "pulse_number", schema, rows(Seq(65566L)),
      t0 + 1000L, dropOthers = true)
    val s2 = TableManifest.latest(f, table).get
    assert(s2.version == 2 && s2.partitions.keySet == Set("pulse_number=65566"), s"$s2")
    assert(gen1.toSet.subsetOf(s2.tombstones.map(_.file).toSet),
      s"dropped partitions' files must be tombstoned: ${s2.tombstones}")
    assert(s2.summary.isEmpty, "a commit without a summary must not inherit one")
    // retention keeps the dropped files on disk for readers of v1
    gen1.foreach(rel => assert(f.exists(new org.apache.hadoop.fs.Path(s"$table/$rel")), rel))
    assert(storeTable(table.stripSuffix("/pulses"), "pulses")
      .select("pulse_number").as[Long].collect().toSeq == Seq(65566L))
  }

  test("a dropped partition's directory is deleted with its last tombstone; " +
      "one still holding a file stays until the orphan sweep empties it") {
    import spark.implicits._
    val table = s"${tmp()}/pulses"
    val f = fs(table)
    val t0 = 1700000000000L
    def dir(p: Long) = new org.apache.hadoop.fs.Path(s"$table/pulse_number=$p")
    val (dropped, stray, kept) = (65546L, 65556L, 65566L)
    commitAt(table, Seq(dropped, stray, kept), "v1", t0)
    // a file no manifest names, in a partition about to leave the map
    f.create(new org.apache.hadoop.fs.Path(dir(stray), "part-stray.parquet")).close()
    val schema = Seq((0L, "", "")).toDF("pulse_number", "jet_id", "payload").schema
    TableManifest.writeRows(spark, table, "pulse_number", schema,
      Seq(org.apache.spark.sql.Row(kept, "0", "v2")), t0 + 1000L, dropOthers = true)
    assert(Seq(dropped, stray, kept).forall(p => f.exists(dir(p))),
      "retention keeps the dropped partitions' files, so their dirs too")
    commitAt(table, Seq(kept), "past", t0 + 1000L + TableManifest.RetentionMs + 1L)
    assert(!f.exists(dir(dropped)), "an emptied dropped partition's dir is deleted")
    assert(f.exists(dir(stray)), "a dir still holding a file stays")
    assert(f.exists(dir(kept)), "a live partition's dir stays")
    assert(TableManifest.deleteOrphans(f, table) == 1, "the sweep deletes the stray file")
    assert(!f.exists(dir(stray)), "and the dir it emptied")
    assert(f.exists(dir(kept)) && TableManifest.deleteOrphans(f, table) == 0)
    assert(TableManifest.readTable(spark, table).get.count() == 1)
  }

  test("readTable: manifested reads serve exactly the current snapshot " +
      "(no superseded duplicates) with partition pruning intact") {
    import spark.implicits._
    val base = tmp()
    def write(rows: Seq[(Long, String, String)]): Unit = {
      commitFrame(rows.toDF("pulse_number", "jet_id", "payload"), s"$base/records")
      ()
    }
    write(Seq((65546L, "0", "a"), (65556L, "1", "b")))
    write(Seq((65546L, "0", "a2"))) // hot-pulse reload
    val df = TableManifest.readTable(spark, s"$base/records").get
    assert(df.count() == 2, "one row per pulse — superseded generation invisible")
    assert(df.filter(col("pulse_number") === 65546L)
      .select("payload").as[String].collect().toSeq == Seq("a2"))
    // partition pruning still happens over the explicit file list
    val plan = df.filter(col("pulse_number") === 65556L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pulse_number"),
      s"partition filters must prune the manifest-listed files:\n$plan")
  }

  test("readTable answers None for a table whose first commit never " +
      "published a manifest, and the next commit does not adopt the orphan") {
    import spark.implicits._
    val base = tmp()
    val table = s"$base/records"
    assert(TableManifest.readTable(spark, table).isEmpty)
    // a first commit that died between its data write and its manifest
    // publish: real parquet files in pulse P's partition, no manifest
    val (p, q) = (65546L, 65556L)
    Seq(("0", "orphan")).toDF("jet_id", "payload")
      .write.parquet(s"$table/pulse_number=$p")
    assert(TableManifest.readTable(spark, table).isEmpty,
      "uncommitted files must never be served")
    commitFrame(Seq((q, "0", "a"), (q, "1", "b")).toDF("pulse_number", "jet_id", "payload"),
      table)
    val snap = TableManifest.latest(fs(table), table).get
    assert(snap.partitions.keySet == Set(s"pulse_number=$q"),
      s"the first commit starts from an empty snapshot: ${snap.partitions}")
    val df = TableManifest.readTable(spark, table).get
    assert(df.count() == 2 && df.filter(col("pulse_number") === p).count() == 0)
  }

  test("a zero-row write publishes nothing, and a pulse absent from the " +
      "rows keeps its old rows (dynamic-overwrite parity)") {
    import spark.implicits._
    val base = tmp()
    commitFrame(Seq((65546L, "0", "keep")).toDF("pulse_number", "jet_id", "payload"),
      s"$base/records")
    // an empty reload of a DIFFERENT pulse touches nothing
    assert(commitFrame(
      Seq.empty[(Long, String, String)].toDF("pulse_number", "jet_id", "payload"),
      s"$base/records").isEmpty)
    val snap = TableManifest.latest(fs(s"$base/records"), s"$base/records").get
    assert(snap.version == 1 && snap.partitions.keySet == Set("pulse_number=65546"))
    assert(TableManifest.readTable(spark, s"$base/records").get.count() == 1)
  }

  test("crash recovery: a file appended without a commit is an invisible " +
      "orphan — never served, tombstoned by the next commit of its " +
      "partition, deleted by the first commit past the retention window") {
    import spark.implicits._
    val table = s"${tmp()}/records"
    val t0 = 1700000000000L
    commitAt(table, Seq(65546L), "v1", t0)
    // simulate a crash between the physical append and the manifest
    // publish: a uniquely-named data file lands in the partition dir
    // with no commit (content is irrelevant — a manifested read must
    // never even open it)
    val orphan = "part-00000-crashed-orphan.c000.snappy.parquet"
    val f = fs(table)
    val out = f.create(new org.apache.hadoop.fs.Path(
      s"$table/pulse_number=65546/$orphan"))
    out.write("not parquet at all".getBytes("UTF-8")); out.close()
    assert(TableManifest.readTable(spark, table).get.count() == 1,
      "the orphan is invisible to manifested reads")
    commitAt(table, Seq(65546L), "v2", t0 + 1000L)
    val s2 = TableManifest.latest(f, table).get
    assert(s2.tombstones.contains(
      TableManifest.Tombstone(s"pulse_number=65546/$orphan", t0 + 1000L)),
      s"the re-commit tombstones the orphan: ${s2.tombstones}")
    assert(TableManifest.readTable(spark, table).get
      .select("payload").as[String].collect().toSeq == Seq("v2"))
    commitAt(table, Seq(65546L), "v3", t0 + 1001L + TableManifest.RetentionMs)
    assert(!TableManifest.listPartitionFiles(f, table, "pulse_number=65546")
      .contains(orphan), "the orphan is deleted once the window has passed")
  }

  test("a write that throws part-way publishes no manifest and deletes the " +
      "files it already wrote; the next commit of the partitions serves its rows") {
    import spark.implicits._
    val local = s"${tmp()}/records"
    val table = FailingFileSystem.path(local)
    val pulses = Seq(65546L, 65556L)
    def commit(tag: String) =
      commitFrame(pulses.map(p => (p, "0", tag)).toDF("pulse_number", "jet_id", "payload"), table)
    def served = TableManifest.readTable(spark, local).get
      .orderBy("pulse_number").select("payload").as[String].collect().toSeq
    val f = fs(local)
    def onDisk = pulses.flatMap(p =>
      TableManifest.listPartitionFiles(f, local, s"pulse_number=$p")).toSet
    FailingFileSystem.armed(spark, 0)(commit("v1"))
    val v1 = TableManifest.latest(f, local).get
    val gen1 = onDisk
    // the second partition's file create fails after the first file is written
    val err = FailingFileSystem.armed(spark, 2)(intercept[java.io.IOException](commit("v2")))
    assert(err.getMessage.contains("injected create failure"), err)
    assert(FailingFileSystem.creates.get == 2, "one file was written before the failure")
    assert(TableManifest.latest(f, local).get == v1, "a failed write publishes nothing")
    assert(onDisk == gen1, s"the file written before the failure is deleted: ${onDisk -- gen1}")
    assert(served == Seq("v1", "v1"))
    val v2 = FailingFileSystem.armed(spark, 0)(commit("v3")).get
    assert(v2.version == 2 && served == Seq("v3", "v3"))
    assert(onDisk == gen1 ++ v2.partitions.values.flatten, "v1 is retained, v3 is live")
  }

  test("snapshot memo: a store deleted and recreated at the same path " +
      "serves the NEW content, not the memoized old snapshot") {
    import spark.implicits._
    val base = tmp()
    val table = s"$base/records"
    def write(tag: String, pulses: Seq[Long]): Unit = {
      commitFrame(pulses.map(p => (p, "0", tag)).toDF("pulse_number", "jet_id", "payload"),
        table)
      ()
    }
    write("old-store", Seq(65546L, 65556L))
    // prime the (path → snapshot) memo
    assert(TableManifest.readTable(spark, table).get.count() == 2)
    // wipe the whole store and recreate: version numbering RESTARTS at 1,
    // so a bare (path, version) memo key would serve the dead store's
    // partition map — the (version, mtime, length) identity must not
    val f = fs(table)
    f.delete(new org.apache.hadoop.fs.Path(base), true)
    graft.sources.RelationCache.invalidate(table)
    write("new-store", Seq(65546L, 65566L, 65576L))
    val again = TableManifest.readTable(spark, table).get
    assert(again.count() == 3, "the recreated store's own row count")
    assert(again.select("payload").distinct().as[String].collect().toSeq ==
      Seq("new-store"))
    assert(TableManifest.latest(f, table).get.partitions.keySet ==
      Set("pulse_number=65546", "pulse_number=65566", "pulse_number=65576"))
  }
}

/** The local file system mounted under `failing://`, whose `n`th create
  * of a parquet data file throws — a disk that fails part-way through a
  * commit. Arm it with [[FailingFileSystem.armed]].
  */
final class FailingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create("failing:///")
  override def getScheme: String = "failing"

  private def check(f: Path): Unit =
    if (f.getName.endsWith(".parquet") &&
        FailingFileSystem.creates.incrementAndGet() == FailingFileSystem.failAt.get)
      throw new java.io.IOException(s"injected create failure: $f")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(f); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingFileSystem {
  val creates = new java.util.concurrent.atomic.AtomicInteger
  val failAt = new java.util.concurrent.atomic.AtomicInteger

  /** `local` (an absolute local path) under the `failing://` scheme. */
  def path(local: String): String = s"failing://$local"

  /** Run `body` with `failing://` mounted and its `n`th data-file create
    * throwing (0: none throws); `creates` counts them.
    */
  def armed[T](spark: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failing.impl", classOf[FailingFileSystem].getName)
    // created here, so a parquet writer prepared before the mount, whose
    // conf does not name the scheme, finds it in Hadoop's cache
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("failing:///"), conf)
    creates.set(0)
    failAt.set(n)
    try body finally failAt.set(0)
  }
}
