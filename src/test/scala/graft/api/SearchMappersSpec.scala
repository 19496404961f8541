package graft.api

import graft.SparkSpec
import graft.functions.Codecs
import org.apache.spark.sql.functions._

class SearchMappersSpec extends SparkSpec {

  test("search dispatch: pulse / jet drop / reference / garbage (J7)") {
    assert(Search.dispatch("65537") == Search.PulseTarget(65537L))
    // strconv.ParseInt tolerates no whitespace: a padded pulse value is
    // NOT a pulse — it falls through every branch to "is neither ..."
    assert(Search.dispatch(" 70010 ") == Search.NoMatch)
    // an integer that is not a valid pulse is its own branch — the
    // reference 400s with "not valid pulse number" (handlers.go:494),
    // it does NOT fall through to the jet-drop/reference checks
    assert(Search.dispatch("65535") == Search.InvalidPulse(65535L)) // below MinTimePulse
    assert(Search.dispatch("-5") == Search.InvalidPulse(-5L))       // ParseInt accepts signs
    assert(Search.dispatch(((1L << 30)).toString) == Search.InvalidPulse(1L << 30)) // above MaxTimePulse
    assert(Search.dispatch(Search.MaxTimePulse.toString) == Search.PulseTarget(Search.MaxTimePulse))
    // a digit string overflowing int64 falls through like ParseInt's error
    assert(Search.dispatch("99999999999999999999999") == Search.NoMatch)
    assert(Search.dispatch("1010:70000") == Search.JetDropTarget("1010", 70000L))
    assert(Search.dispatch("*:70000") == Search.JetDropTarget("", 70000L))
    assert(Search.dispatch("012:70000") == Search.NoMatch) // not a bit string
    // NewJetDropIDFromString has no pulse-validity bound (models.go:94-113)
    assert(Search.dispatch("1010:5") == Search.JetDropTarget("1010", 5L))
    assert(Search.dispatch("") == Search.NoMatch)
    assert(Search.dispatch("!!garbage!!") == Search.NoMatch)
  }

  test("search dispatch: base58 references classify object vs record") {
    val objectBytes = Array.fill[Byte](4)(0) ++ Array.tabulate[Byte](32)(i => (i + 1).toByte)
    val recordBytes = Array.tabulate[Byte](36)(i => (i + 1).toByte)
    val objTarget = Search.dispatch(Codecs.referenceToString(objectBytes))
    val recTarget = Search.dispatch(Codecs.referenceToString(recordBytes))
    assert(objTarget.isInstanceOf[Search.LifelineTarget])
    assert(objTarget.asInstanceOf[Search.LifelineTarget].objectRef.toSeq == objectBytes.toSeq)
    assert(recTarget.isInstanceOf[Search.RecordTarget])
    // a 36-char-decoding but wrong-length reference is rejected
    assert(Search.dispatch(Codecs.referenceToString(Array[Byte](1, 2, 3))) == Search.NoMatch)
  }

  test("reference codec golden vectors: fixed strings decode, classify, and round-trip") {
    // Frozen vectors (F7): a codec or classification regression changes
    // these strings — round-trip tests alone would not catch it.
    val goldenObject = "insolar:111114wBqpZM9xaSheZzJSMawUKKwhdpChKbZ5eu5ky4Vigw"
    val goldenRecord = "insolar:116nfG4UbE7S5K1yucBT1gLd1axTcztGLPdsjAmJCYcZYn3Rq"
    val objBytes = Array.fill[Byte](4)(0) ++ Array.tabulate[Byte](32)(i => (i + 1).toByte)
    val recBytes = Array[Byte](0, 1, 0, 0) ++ Array.tabulate[Byte](32)(i => (i + 1).toByte)
    assert(Codecs.referenceToString(objBytes) == goldenObject)
    assert(Codecs.referenceToString(recBytes) == goldenRecord)
    assert(Codecs.parseReference(goldenObject).get.toSeq == objBytes.toSeq)
    assert(Codecs.parseReference(goldenRecord).get.toSeq == recBytes.toSeq)
    assert(Search.dispatch(goldenObject).isInstanceOf[Search.LifelineTarget])
    assert(Search.dispatch(goldenRecord).isInstanceOf[Search.RecordTarget])
    // leading-zero preservation: the 4 zero scope bytes survive as base58 '1's
    assert(goldenObject.stripPrefix("insolar:1").startsWith("1111"))
  }

  test("jet drop mapper renders composite ids with root star") {
    import spark.implicits._
    val drops = Seq(("", 70000L, "h", 5, 999L), ("01", 70010L, "h2", 2, 998L))
      .toDF("jet_id", "pulse_number", "hs", "record_amount", "timestamp")
      .withColumn("hash", encode(col("hs"), "UTF-8"))
    val out = Mappers.jetDropToApi(graft.model.Rows.collect(drops)).rows
      .sortBy(_.getAs[Long]("pulse_number"))
    assert(out(0).getAs[String]("jet_drop_id") == "*:70000")
    assert(out(1).getAs[String]("jet_drop_id") == "01:70010")
  }

}
