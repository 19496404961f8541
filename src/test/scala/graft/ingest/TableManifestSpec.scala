package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TableManifestSpec extends SparkSpec {

  private def fs(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString

  /** One manifested append of `tag` rows into `pulses`, committed at
    * time `at` — the specs' substituted clock.
    */
  private def commitAt(table: String, pulses: Seq[Long], tag: String, at: Long): Unit = {
    import spark.implicits._
    TableManifest.appendCommit(spark, table, pulses.map(p => s"pulse_number=$p"), at) {
      pulses.map(p => (p, "0", tag)).toDF("pulse_number", "jet_id", "payload")
        .write.mode("append").partitionBy("pulse_number").parquet(table)
    }
  }

  test("render/parse round trip and damage handling") {
    import TableManifest.{Snapshot, Tombstone, parse, render}
    val parts = Map("pulse_number=65546" -> Seq("part-a.parquet", "part-b.parquet"),
      "pulse_number=65556" -> Seq("part-c.parquet"))
    val snap = Snapshot(7L, parts, Seq(
      Tombstone("_manifests/v0000000000000000006.json", 1700000000123L),
      Tombstone("pulse_number=65546/part-old.parquet", 1700000000123L)))
    assert(parse(render(snap), 0L).contains(snap))
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

  test("readTable: manifested reads serve exactly the current snapshot " +
      "(no superseded duplicates) with partition pruning intact") {
    import spark.implicits._
    val base = tmp()
    def write(rows: Seq[(Long, String, String)], pulses: Seq[Long]): Unit =
      PulseWriter.writePulsePartition(
        rows.toDF("pulse_number", "jet_id", "payload"),
        "records", base, pulses = Some(pulses))
    write(Seq((65546L, "0", "a"), (65556L, "1", "b")), Seq(65546L, 65556L))
    write(Seq((65546L, "0", "a2")), Seq(65546L)) // hot-pulse reload
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
    PulseWriter.writePulsePartition(
      Seq((q, "0", "a"), (q, "1", "b")).toDF("pulse_number", "jet_id", "payload"),
      "records", base, pulses = Some(Seq(q)))
    val snap = TableManifest.latest(fs(table), table).get
    assert(snap.partitions.keySet == Set(s"pulse_number=$q"),
      s"the first commit starts from an empty snapshot: ${snap.partitions}")
    val df = TableManifest.readTable(spark, table).get
    assert(df.count() == 2 && df.filter(col("pulse_number") === p).count() == 0)
  }

  test("a zero-row frame creates the table layout but publishes nothing, " +
      "and a pulse absent from the frame keeps its old rows (dynamic-" +
      "overwrite parity)") {
    import spark.implicits._
    val base = tmp()
    PulseWriter.writePulsePartition(
      Seq((65546L, "0", "keep")).toDF("pulse_number", "jet_id", "payload"),
      "records", base, pulses = Some(Seq(65546L)))
    // an empty reload of a DIFFERENT pulse touches nothing
    PulseWriter.writePulsePartition(
      Seq.empty[(Long, String, String)].toDF("pulse_number", "jet_id", "payload"),
      "records", base, pulses = Some(Seq(65556L)))
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

  test("snapshot memo: a store deleted and recreated at the same path " +
      "serves the NEW content, not the memoized old snapshot") {
    import spark.implicits._
    val base = tmp()
    val table = s"$base/records"
    def write(tag: String, pulses: Seq[Long]): Unit =
      PulseWriter.writePulsePartition(
        pulses.map(p => (p, "0", tag)).toDF("pulse_number", "jet_id", "payload"),
        "records", base, pulses = Some(pulses))
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

  test("versionToken answers the manifest version for manifested tables, " +
      "None for a table with no manifest") {
    import spark.implicits._
    val base = tmp()
    PulseWriter.writePulsePartition(
      Seq((65546L, "0", "x")).toDF("pulse_number", "jet_id", "payload"),
      "records", base, pulses = Some(Seq(65546L)))
    assert(TableManifest.versionToken(spark, s"$base/records").contains("m1"))
    assert(TableManifest.versionToken(spark, s"$base/nope").isEmpty)
  }
}
