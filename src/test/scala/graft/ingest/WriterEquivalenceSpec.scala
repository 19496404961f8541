package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.gen.Fixtures
import graft.model.Schemas

/** The Spark-job write path [[TableManifest.writeRows]] replaced, kept
  * verbatim as the reference the driver-side writer must reproduce: a
  * `DataFrameWriter` append job per table, with the partitions' listings
  * diffed around it to find the files the job added.
  */
object DataFrameWriterPath {

  def appendCommit(spark: SparkSession, tablePath: String, parts: Seq[String],
      now: => Long = System.currentTimeMillis())(append: => Unit): Unit = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = parts.map(p =>
      p -> TableManifest.listPartitionFiles(fs, tablePath, p).toSeq.sorted).toMap
    append
    val replaced = parts.map { p =>
      val after = TableManifest.listPartitionFiles(fs, tablePath, p)
      p -> (after -- before(p).toSet).toSeq.sorted
    }.toMap.filter(_._2.nonEmpty)
    if (replaced.nonEmpty) {
      TableManifest.commit(spark, tablePath, replaced,
        before.view.filterKeys(replaced.contains).toMap, now)
      ()
    }
  }

  def writePulsePartition(df: DataFrame, table: String, basePath: String,
      pulses: Option[Seq[Long]] = None): Unit = {
    val spark = df.sparkSession
    val tablePath = s"$basePath/$table"
    val parts = pulses.getOrElse(
        df.select(col("pulse_number")).distinct().collect()
          .map(r => r.get(0).toString.toLong).toSeq)
      .map(p => s"pulse_number=$p")
    appendCommit(spark, tablePath, parts) {
      df.sortWithinPartitions(col("jet_id"))
        .write
        .mode(SaveMode.Append)
        .partitionBy("pulse_number")
        .parquet(tablePath)
    }
  }

  def commitPulse(wire: DataFrame, basePath: String): Seq[Row] = {
    val spark = wire.sparkSession
    val (schema, records) = (Spine.schema, PulseWriter.prepare(wire.collect().toSeq).records)
    val Seq(pulse, jet, ts) = Seq("pulse_number", "jet_id", "timestamp").map(schema.fieldIndex)
    val dropSchema = StructType(Seq(schema(pulse), schema(jet),
      StructField("record_amount", IntegerType, nullable = false),
      StructField("timestamp", LongType)))
    val drops = records.groupBy(r => (r.getLong(pulse), r.getString(jet)))
      .map { case ((p, j), rs) =>
        new GenericRowWithSchema(Array(p, j, rs.size, rs.map(_.getLong(ts)).min), dropSchema): Row
      }.toSeq
    val parts = Some(records.map(_.getLong(pulse)).distinct)
    def local(rows: Seq[Row], s: StructType) =
      spark.createDataFrame(rows.asJava, s).coalesce(1)
    writePulsePartition(local(records, schema), "records", basePath, parts)
    writePulsePartition(local(drops, dropSchema), "jet_drops", basePath, parts)
    drops
  }

  /** The daemon's pulses-dimension flush. */
  def flush(spark: SparkSession, target: String, rows: Seq[Row]): Unit = {
    val buckets = rows.iterator.map(_.getLong(9)).toSet.toSeq.sorted
      .map(b => s"pulse_bucket=$b")
    appendCommit(spark, target, buckets) {
      spark.createDataFrame(rows.asJava, Schemas.pulses).coalesce(1)
        .write.mode(SaveMode.Append)
        .partitionBy("pulse_bucket").parquet(target)
    }
  }
}

/** [[TableManifest.writeRows]] writes what the `DataFrameWriter` path
  * wrote: the same schema on read (the inferred partition column
  * included), the same rows in the same file order, and the same parquet
  * footer — schema, Spark metadata and the session's codec.
  */
class WriterEquivalenceSpec extends SparkSpec {

  private val P = Fixtures.GenesisPulse + Fixtures.PulseDelta

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-writer-$tag").toString

  private def hex(v: Any): Any = v match {
    case b: Array[Byte] => java.util.HexFormat.of().formatHex(b)
    case other => other
  }

  /** Each live file's rows, in file order, per partition. */
  private def fileRows(tablePath: String): Map[String, Seq[Seq[Any]]] = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableManifest.latest(fs, tablePath).get.partitions.map { case (part, files) =>
      assert(files.length == 1, s"$tablePath/$part: $files")
      part -> spark.read.parquet(s"$tablePath/$part/${files.head}").collect().toSeq
        .map(_.toSeq.map(hex))
    }
  }

  private def footers(tablePath: String) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(tablePath).getFileSystem(conf)
    TableManifest.latest(fs, tablePath).get.files(tablePath).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getFooter finally r.close()
    }
  }

  private def codecs(tablePath: String): Set[String] =
    footers(tablePath).flatMap(_.getBlocks.asScala.flatMap(_.getColumns.asScala
      .map(_.getCodec.name.toLowerCase))).toSet

  /** The two stores' `table` read back identically, file for file — in
    * the same row order when `fileOrder`.
    */
  private def assertSame(driverBase: String, jobBase: String, table: String,
      fileOrder: Boolean = true): Unit = {
    val (a, b) = (s"$driverBase/$table", s"$jobBase/$table")
    val (da, db) = (TableManifest.readTable(spark, a).get, TableManifest.readTable(spark, b).get)
    assert(da.schema == db.schema, s"$table schema:\n${da.schema.treeString}\nvs\n${db.schema.treeString}")
    assert(da.count() == db.count() && da.exceptAll(db).isEmpty && db.exceptAll(da).isEmpty,
      s"$table rows differ")
    val (ra, rb) = (fileRows(a), fileRows(b))
    if (fileOrder) assert(ra == rb, s"$table: rows or their file order differ")
    else assert(ra.keySet == rb.keySet && ra.forall { case (k, rs) =>
      rs.map(_.mkString("|")).sorted == rb(k).map(_.mkString("|")).sorted }, s"$table rows differ")
    val (fa, fb) = (footers(a), footers(b))
    assert(fa.map(_.getFileMetaData.getSchema) == fb.map(_.getFileMetaData.getSchema))
    assert(fa.map(_.getFileMetaData.getKeyValueMetaData) ==
      fb.map(_.getFileMetaData.getKeyValueMetaData), s"$table footer metadata differs")
    val codec = spark.conf.get("spark.sql.parquet.compression.codec")
    assert(codecs(a) == Set(codec) && codecs(b) == Set(codec), s"$table codecs")
  }

  test("records and jet_drops: a pulse commit reads back with the schema, " +
      "rows, file order and footer the DataFrameWriter path wrote") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 3, recordsPerPulse = 40,
      jets = Seq("00", "01", "1"), startPulse = P)
    val (driver, job) = (tmp("driver"), tmp("job"))
    val drops = PulseWriter.commitPulse(wire, driver).drops
    val jobDrops = DataFrameWriterPath.commitPulse(wire, job)
    assert(drops.map(_.toSeq).toSet == jobDrops.map(_.toSeq).toSet)
    assertSame(driver, job, "records")
    // the job path's `sortWithinPartitions(jet_id)` sat under the write's
    // own partition sort, which the optimizer keeps alone, so its drops
    // landed in hash-map order; the driver writes them sorted by jet
    assertSame(driver, job, "jet_drops", fileOrder = false)
    fileRows(s"$driver/jet_drops").values.foreach { rs =>
      val jets = rs.map(_.head.toString)
      assert(jets == jets.sorted, s"drops sorted by jet: $jets")
    }
    assert(TableManifest.readTable(spark, s"$driver/records").get.count() == 120)
  }

  test("the pulses dimension: a flush reads back with the schema, rows and " +
      "footer the DataFrameWriter path wrote") {
    val span = 100L
    val rows = (0 until 5).map { i =>
      val p = P + i * 70L
      Row(p, p - 70L, p + 70L, i % 2 == 0, i < 3, i + 1, 10L * i, i.toLong,
        p - Canonicalize.MinTimePulse, p / span)
    }
    val (driver, job) = (tmp("driver"), tmp("job"))
    assert(rows.map(_.getLong(9)).distinct.length > 1, "more than one bucket")
    TableManifest.writeRows(spark, s"$driver/pulses", "pulse_bucket", Schemas.pulses, rows)
    DataFrameWriterPath.flush(spark, s"$job/pulses", rows)
    assertSame(driver, job, "pulses")
  }

  test("the footer codec and file extension follow the session's " +
      "spark.sql.parquet.compression.codec") {
    val key = "spark.sql.parquet.compression.codec"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "gzip")
    try {
      val wire = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 8,
        startPulse = P)
      val (driver, job) = (tmp("driver"), tmp("job"))
      PulseWriter.commitPulse(wire, driver)
      DataFrameWriterPath.commitPulse(wire, job)
      assertSame(driver, job, "records")
      assertSame(driver, job, "jet_drops", fileOrder = false)
      assert(codecs(s"$driver/records") == Set("gzip"))
      val fs = new Path(driver).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(TableManifest.latest(fs, s"$driver/records").get.files(s"$driver/records")
        .forall(_.endsWith(".c000.gz.parquet")))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
