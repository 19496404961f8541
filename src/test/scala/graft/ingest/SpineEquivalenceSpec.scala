package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gen.Fixtures
import graft.model.Schemas
import graft.operators.{ChainNode, ChainSort}

final case class ChainedOut(key: String, groupKey: String, chainPos: Int)

/** The distributed spine the driver-side [[Spine]] replaced, kept verbatim
  * as the reference the new spine must reproduce row for row: the Column
  * canonicalization ([[ColumnCanonicalize]]), a `groupByKey` chain sort, a
  * join back on `hex(reference)`, and a `row_number` window over
  * (pulse, jet).
  */
object DistributedSpine {

  def chainSort(ds: Dataset[ChainNode]): Dataset[ChainedOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.groupKey)
      .flatMapGroups { (g, it) =>
        ChainSort.sortGroup(it.toSeq) match {
          case Some(sorted) =>
            sorted.iterator.zipWithIndex.map { case (n, i) => ChainedOut(n.key, g, i + 1) }
          case None => Iterator.empty
        }
      }
  }

  def sortDf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val withChained =
      if (df.columns.contains("chained")) df else df.withColumn("chained", lit(true))
    val ds = withChained.select(
      col("key").cast("string"),
      col("group_key").cast("string").as("groupKey"),
      col("prev_key").cast("string").as("prevKey"),
      col("chained").cast("boolean"),
      col("order_hint").cast("long").as("orderHint")
    ).as[ChainNode]
    chainSort(ds).toDF("key", "group_key", "chain_pos")
  }

  def assignOrder(records: DataFrame, posCol: String = "chain_pos"): DataFrame = {
    val w = Window.partitionBy(col("pulse_number"), col("jet_id"))
      .orderBy(col(posCol), col("reference"))
    records.withColumn("order", row_number().over(w))
  }

  def apply(wire: DataFrame): DataFrame = {
    val canon = ColumnCanonicalize(wire)
    val nodes = canon.select(
      hex(col("reference")).as("key"),
      concat_ws("|", col("pulse_number"), col("jet_id"),
        hex(coalesce(col("object_reference"), lit(Array.emptyByteArray)))).as("group_key"),
      hex(coalesce(col("prev_record_reference"), lit(Array.emptyByteArray))).as("prev_key"),
      (col("type") === "state").as("chained"),
      col("order_hint").cast("long").as("order_hint"))
    val sorted = sortDf(nodes).withColumnRenamed("key", "ref_hex")
    val withPos = canon
      .join(sorted, hex(col("reference")) === col("ref_hex"))
      .drop("ref_hex", "group_key")
    assignOrder(withPos).drop("chain_pos")
  }
}

class SpineEquivalenceSpec extends SparkSpec {

  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** A wire frame from (id, object, type, prev, pulse, jet) tuples;
    * record numbers follow the given order.
    */
  private def wireOf(recs: Seq[(String, String, String, String, Long, String)]): DataFrame =
    spark.createDataFrame(recs.zipWithIndex.map { case ((id, obj, tpe, prev, pulse, jet), i) =>
      Row(i.toLong, b(id), Option(obj).map(b).orNull, jet, tpe, b("img"), b("mem"),
        Option(prev).map(b).orNull, b("raw-" + id), pulse)
    }.asJava, Schemas.wireRecords)

  /** Rows as comparable strings (binary columns by content). */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** The oracle's schema follows its input frame's nullability, so the
    * wire is rebuilt in [[Schemas.wireRecords]], the daemon's wire shape.
    */
  private def assertSame(fixture: DataFrame): Seq[String] = {
    val wire = spark.createDataFrame(fixture.collect().toSeq.asJava, Schemas.wireRecords)
    val got = spineFrame(wire)
    val want = DistributedSpine(wire)
    assert(got.schema == want.schema)
    val rows = rowsOf(got)
    assert(rows == rowsOf(want))
    rows
  }

  private val P = Fixtures.GenesisPulse + Fixtures.PulseDelta

  test("equals the distributed spine: lifeline fixture") {
    val wire = Fixtures.lifelineWire(spark, "eq", nPulses = 4, amendsPerPulse = 2)
    assert(assertSame(wire).size == wire.count())
  }

  test("equals the distributed spine: multi-pulse batches") {
    assert(assertSame(Fixtures.multiPulseBatches(spark, nPulses = 3,
      recordsPerPulse = 10)).size == 30)
  }

  test("equals the distributed spine: genesis-pulse records and records with no object") {
    val g = Fixtures.GenesisPulse
    assertSame(wireOf(Seq(
      ("g1", "", "incoming_request", null, g, "0"),
      ("g2", "", "activate", null, g, "0"),
      ("g3", null, "result", null, g, "1"),
      ("n1", null, "incoming_request", null, P, "0"),
      ("n2", null, "result", null, P, "0"),
      ("n3", "", "outgoing_request", null, P, "0"),
      ("n4", null, "activate", null, P, "1"),
      ("n5", null, "amend", "n4", P, "1"))))
  }

  test("equals the distributed spine: a shuffled multi-object lifeline pulse") {
    val objects = (0 until 6).map(i => Fixtures.lifelineWire(spark, s"o$i", nPulses = 3,
      amendsPerPulse = 3, jetId = (i % 2).toString, seed = i.toLong))
    val all = objects.reduce(_.union(_)).collect().toSeq
    val shuffled = new scala.util.Random(7).shuffle(all).zipWithIndex.map { case (r, i) =>
      Row.fromSeq(i.toLong +: r.toSeq.tail)
    }
    val wire = spark.createDataFrame(shuffled.asJava, objects.head.schema)
    assert(assertSame(wire).size == all.size)
  }

  test("equals the distributed spine: broken groups are dropped whole") {
    val wire = wireOf(Seq(
      ("ok1", "good", "activate", null, P, "0"),
      ("ok2", "good", "amend", "ok1", P, "0"),
      ("okr", "good", "result", null, P, "0"),
      // missing link: m3's predecessor m2 never arrived
      ("m1", "missing", "activate", null, P, "0"),
      ("m3", "missing", "amend", "m2", P, "0"),
      // fork: two amends share one predecessor
      ("f1", "fork", "activate", null, P, "0"),
      ("f2", "fork", "amend", "f1", P, "0"),
      ("f3", "fork", "amend", "f1", P, "0"),
      // cycle: no head at all
      ("c1", "cycle", "amend", "c2", P, "0"),
      ("c2", "cycle", "amend", "c1", P, "0"),
      ("cr", "cycle", "incoming_request", null, P, "0"),
      // duplicate state key
      ("d1", "dup", "activate", null, P, "0"),
      ("d1", "dup", "amend", null, P, "0")))
    val rows = spineFrame(wire).select(decode(col("reference"), "UTF-8"), col("order"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows == Map("ok1" -> 1, "ok2" -> 2, "okr" -> 3))
    assertSame(wire)
  }

  test("known difference: a duplicated reference is emitted once per input row, " +
      "where the distributed spine's join multiplied it") {
    val wire = wireOf(Seq(
      ("r", "obj", "incoming_request", null, P, "0"),
      ("r", "obj", "incoming_request", null, P, "0"),
      ("s", "obj", "activate", null, P, "0")))
    val got = spineFrame(wire)
    assert(got.count() == 3)
    assert(got.select("order").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    // the join on hex(reference) pairs each "r" row with both chain rows
    assert(DistributedSpine(wire).count() == 5)
  }

  test("commitPulse on a driver-built pulse runs 0 Spark jobs and writes " +
      "one file per table") {
    val base = java.nio.file.Files.createTempDirectory("graft-commit-cost").toString
    val rows = Fixtures.multiPulseBatches(spark, nPulses = 1, recordsPerPulse = 40,
      jets = Seq("00", "01", "1"), startPulse = P).collect().toSeq
    val wire = spark.createDataFrame(rows.asJava, Schemas.wireRecords)
    var drops = Seq.empty[Row]
    assert(jobsDuring { drops = PulseWriter.commitPulse(wire, base).drops } == 0)
    assert(drops.map(r => r.getAs[String]("jet_id") -> r.getAs[Int]("record_amount")).toMap ==
      Map("00" -> 14, "01" -> 13, "1" -> 13))
    Seq("records", "jet_drops").foreach { t =>
      val files = new java.io.File(s"$base/$t/pulse_number=$P").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$t: ${files.map(_.getName).toSeq}")
    }
    assert(storeTable(base, "records").count() == 40)
  }
}
