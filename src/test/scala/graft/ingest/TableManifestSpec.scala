package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TableManifestSpec extends SparkSpec {

  private def fs(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString

  test("render/parse round trip and damage handling") {
    val snap = TableManifest.Snapshot(7L,
      Map("pulse_number=65546" -> Seq("part-a.parquet", "part-b.parquet"),
        "pulse_number=65556" -> Seq("part-c.parquet")),
      Seq("pulse_number=65546/part-old.parquet"))
    val rendered = {
      // render is private; drive it through a real commit below — here
      // just pin the parser against a hand-built equivalent string
      """{"version":7,"partitions":{"pulse_number=65546":["part-a.parquet","part-b.parquet"],""" +
      """"pulse_number=65556":["part-c.parquet"]},""" +
      """"tombstones":["pulse_number=65546/part-old.parquet"]}"""
    }
    assert(TableManifest.parse(rendered).contains(snap))
    assert(TableManifest.parse("""{"version":1""").isEmpty, "torn JSON reads None")
    assert(TableManifest.parse("""{"partitions":{}}""").isEmpty)
  }

  test("commit lifecycle: replace bumps the version, the superseded " +
      "generation survives exactly one further commit, manifests prune") {
    import spark.implicits._
    val base = tmp()
    val table = s"$base/records"
    def write(tag: String): Unit =
      PulseWriter.writePulsePartition(
        Seq((65546L, "0", tag), (65556L, "1", tag))
          .toDF("pulse_number", "jet_id", "payload"),
        "records", base, pulses = Some(Seq(65546L, 65556L)))
    write("v1")
    val f = fs(table)
    val s1 = TableManifest.latest(f, table).get
    assert(s1.version == 1 && s1.partitions.keySet ==
      Set("pulse_number=65546", "pulse_number=65556"))
    assert(s1.tombstones.isEmpty, "first commit supersedes nothing")
    val gen1 = s1.partitions("pulse_number=65546").toSet

    write("v2")
    val s2 = TableManifest.latest(f, table).get
    assert(s2.version == 2)
    assert((s2.partitions("pulse_number=65546").toSet intersect gen1).isEmpty,
      "replace: the manifest lists only the new generation")
    assert(s2.tombstones.exists(_.contains("pulse_number=65546/")),
      "the superseded generation is tombstoned")
    // grace: gen1 files still on disk while s2 is current
    val onDisk2 = TableManifest.listPartitionFiles(f, table, "pulse_number=65546")
    assert(gen1.subsetOf(onDisk2), "superseded files survive one commit cycle")

    write("v3")
    val s3 = TableManifest.latest(f, table).get
    val onDisk3 = TableManifest.listPartitionFiles(f, table, "pulse_number=65546")
    assert((onDisk3 intersect gen1).isEmpty,
      "gen1 is physically deleted when the THIRD generation commits")
    // manifest pruning keeps the current and previous versions only
    val mdir = new org.apache.hadoop.fs.Path(s"$table/_manifests")
    val versions = f.listStatus(mdir).map(_.getPath.getName).sorted.toSeq
    assert(versions.length == 2 && versions.last.contains("3"), s"kept: $versions")
    assert(s3.version == 3)
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
      "partition, physically deleted one cycle later") {
    import spark.implicits._
    val base = tmp()
    val table = s"$base/records"
    def write(tag: String): Unit =
      PulseWriter.writePulsePartition(
        Seq((65546L, "0", tag)).toDF("pulse_number", "jet_id", "payload"),
        "records", base, pulses = Some(Seq(65546L)))
    write("v1")
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
    write("v2")
    val s2 = TableManifest.latest(f, table).get
    assert(s2.tombstones.contains(s"pulse_number=65546/$orphan"),
      s"the re-commit tombstones the orphan: ${s2.tombstones}")
    assert(TableManifest.readTable(spark, table).get
      .select("payload").as[String].collect().toSeq == Seq("v2"))
    write("v3")
    assert(!TableManifest.listPartitionFiles(f, table, "pulse_number=65546")
      .contains(orphan), "the orphan is physically deleted one cycle later")
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
