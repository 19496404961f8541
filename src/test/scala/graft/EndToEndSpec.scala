package graft

import org.apache.spark.sql.functions._
import graft.gen.Fixtures
import graft.operators.{Completeness, JetLinkage}

/** The reference's heavy-mock layer re-expressed: generated scenarios run
  * through the full ingest spine and are asserted against by-construction
  * expectations (SURVEY §5 layer 3).
  */
class EndToEndSpec extends SparkSpec {

  test("lifeline scenario: ingest spine recovers causal order end-to-end") {
    val wire = Fixtures.lifelineWire(spark, "e2e", nPulses = 4, amendsPerPulse = 2)
    val withOrder = spineFrame(wire)

    // persist as the real layout and read back (S3 partition commit)
    val tmp = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    commitFrame(withOrder, s"$tmp/records")
    val records = spark.read.parquet(s"$tmp/records")

    // the lifeline read (P4 + W1): state records of the object, ascending
    val got = records.filter(col("type") === "state")
      .orderBy(col("pulse_number"), col("order"))
      .select(decode(col("reference"), "UTF-8").as("r"))
      .collect().map(_.getString(0)).toSeq
    val expected = Fixtures.lifelineExpectedStates("e2e", nPulses = 4, amendsPerPulse = 2)
    assert(got == expected)

    // the non-state request sorts after the chain inside its pulse (W7)
    val pulse0 = Fixtures.GenesisPulse + Fixtures.PulseDelta
    val firstPulse = records.filter(col("pulse_number") === pulse0)
      .orderBy(col("order"))
      .select(col("type")).collect().map(_.getString(0)).toSeq
    assert(firstPulse == Seq("state", "request"))
  }

  test("jet split tree: completeness over the growing tree") {
    // a root-jet tree is a full cover at every pulse
    val full = Fixtures.jetSplitTree(spark, rootJet = "", nPulses = 3)
    val fullStatus = Completeness.pulseCompleteness(full)
      .orderBy("pulse_number").collect().map(_.getBoolean(1))
    assert(fullStatus.toSeq == Seq(true, true, true))

    // a subtree-rooted scenario never covers the whole jet space
    val partial = Fixtures.jetSplitTree(spark, rootJet = "01", nPulses = 3)
    val partialStatus = Completeness.pulseCompleteness(partial)
      .orderBy("pulse_number").collect().map(_.getBoolean(1))
    assert(partialStatus.toSeq == Seq(false, false, false))
  }

  test("jet split tree: hash linkage finds parents and children (J5)") {
    val drops = Fixtures.jetSplitTree(spark, rootJet = "01", nPulses = 3)
    val p1 = Fixtures.GenesisPulse + 2 * Fixtures.PulseDelta
    val page = drops.filter(col("pulse_number") === p1)
    val neighbors = drops.filter(col("pulse_number") =!= p1)
    val out = JetLinkage.hashLinkCounts(page, neighbors)
      .orderBy("jet_id").collect()
    // both drops of pulse 1 ("010", "011"): 1 parent, 2 children each
    assert(out.map(_.getAs[String]("jet_id")).toSeq == Seq("010", "011"))
    out.foreach { r =>
      assert(r.getAs[Long]("prev_count") == 1L, r)
      assert(r.getAs[Long]("next_count") == 2L, r)
    }
  }

  test("multi-pulse batches: pagination invariants over bulk ingest") {
    val wire = Fixtures.multiPulseBatches(spark, nPulses = 3, recordsPerPulse = 10)
    val withOrder = spineFrame(wire)
    // order is dense 1..N within each (pulse, jet)
    val dense = withOrder.groupBy("pulse_number", "jet_id")
      .agg(count(lit(1)).as("n"), max("order").as("mx"), min("order").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(dense.count() == 0)
    // offset pagination partitions the total order into disjoint pages (W5)
    import graft.operators.Pagination
    val sortCols = Seq(col("pulse_number").asc, col("order").asc, col("reference").asc)
    def refs(df: org.apache.spark.sql.DataFrame) =
      df.select(decode(col("reference"), "UTF-8")).collect().map(_.getString(0)).toSeq
    val all = refs(withOrder.orderBy(sortCols: _*))
    val page1 = refs(Pagination.page(withOrder, sortCols, 7))
    val page2 = refs(Pagination.page(withOrder, sortCols, 7, offset = 7))
    assert(all.size == 30)
    assert(page1 == all.take(7))
    assert(page2 == all.slice(7, 14))
    // keyset from the last row of page1 resumes without overlap (P5)
    import graft.operators.Predicates
    val lastRow = Pagination.page(withOrder, sortCols, 7).select("pulse_number", "order")
      .collect().last
    val resumed = refs(Pagination.page(
      withOrder.filter(Predicates.keysetFrom(col("pulse_number"), col("order"),
        lastRow.getLong(0), lastRow.getInt(1) + 1L, asc = true)), sortCols, 7))
    assert(resumed.nonEmpty && !page1.contains(resumed.head))
  }
}
