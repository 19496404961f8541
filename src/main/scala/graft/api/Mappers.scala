package graft.api

import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.functions.Codecs
import graft.model.Rows

/** API presentation mappers (reference: `api/mappers.go:19-95`):
  * binary columns rendered base64 (F6), composite ids as strings
  * (F3/F4), `-1` links unset (omitted), and the link arrays of the drop
  * routes. Row functions over the page a route holds in the driver
  * (≤1000 rows by validation) — the reference's own per-page Go loop —
  * shared by all eight routes: the driver-read routes present their rows,
  * the Spark routes present what their plan collected.
  */
object Mappers {

  /** The element of a drop's link arrays: `server.NextPrevJetDrop` as
    * `transformPrevNextResp` renders it (`api/handlers.go:785-792`).
    */
  val LinkSchema: StructType = StructType(Seq(StructField("jet_drop_id", StringType),
    StructField("jet_id", StringType), StructField("pulse_number", LongType)))

  /** One link element for the drop of `jet` (root: "" or null) at `pulse`. */
  def link(jet: String, pulse: Long): org.apache.spark.sql.Row = {
    val shown = if (jet == null || jet.isEmpty) "*" else jet
    Rows.row(LinkSchema, Seq(s"$shown:$pulse", shown, pulse))
  }

  /** The type of a drop's `prev_jet_drop_id`/`next_jet_drop_id` arrays. */
  val LinkArray: ArrayType = ArrayType(LinkSchema)

  // the columns a drop row may carry past its API fields, in this order
  private val DropExtras = Seq("prev_ids", "next_ids", "prev_jet_drop_id", "next_jet_drop_id",
    "total", graft.operators.Pagination.PageRowMarker)

  /** Jet drop row → API shape (`api/mappers.go:57-76`): the composite id
    * first and the hash base64'd; the link and `total` columns pass
    * through when the caller attached them.
    */
  def jetDropToApi(drops: Rows): Rows = {
    val s = drops.schema
    val Seq(jet, pn, hash, amount, ts) =
      Seq("jet_id", "pulse_number", "hash", "record_amount", "timestamp").map(drops.at)
    val extras = DropExtras.filter(s.fieldNames.contains).map(drops.at)
    drops.map(StructType(Seq(StructField("jet_drop_id", StringType, nullable = false), s(jet),
      s(pn), StructField("hash", StringType, s(hash).nullable), s(amount), s(ts)) ++
      extras.map(s(_)))) { r =>
      Seq(Codecs.jetDropId(r.getString(jet), r.get(pn)), r.get(jet), r.get(pn),
        base64(r.get(hash)), r.get(amount), r.get(ts)) ++ extras.map(r.get)
    }
  }

  /** `functions.base64` of a string (its UTF-8 bytes) or binary value. */
  private def base64(v: Any): String = v match {
    case null => null
    case s: String => java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
  }

  /** HTTP presentation of pulse rows: the `-1` unknown-link sentinel the
    * storage layer (and the DataFrame contract underneath) carries is an
    * UNSET pointer in the API body — `PulseToAPI` only assigns prev/next
    * when != -1 (`api/mappers.go:57-74`), and `omitempty` drops the field.
    * Nulling here lets the omitempty-aware writer do exactly that.
    * `PulseToAPI` serves exactly {pulse_number, prev/next, is_complete,
    * jet_drop_amount, record_amount, timestamp}: the sequential flag and
    * the per-type counters are storage-internal.
    */
  def presentPulses(pulses: Rows): Rows = {
    val links = Set(pulses.at("prev_pulse_number"), pulses.at("next_pulse_number"))
    val nulled = pulses.map(StructType(pulses.schema.fields.zipWithIndex.map { case (f, i) =>
      if (links(i)) f.copy(nullable = true) else f
    })) { r =>
      r.toSeq.zipWithIndex.map { case (v, i) => if (links(i) && v == -1L) null else v }
    }
    nulled.drop("is_sequential", "result_amount")
  }

  /** JetDropsByPulseNumber renders every drop with EMPTY link arrays —
    * the reference passes `[]server.NextPrevJetDrop{}` for both sides
    * (`api/handlers.go:446-449`).
    */
  def presentEmptyLinks(drops: Rows): Rows =
    drops.append(StructField("prev_jet_drop_id", LinkArray, nullable = false),
      StructField("next_jet_drop_id", LinkArray, nullable = false))(_ => Seq(Nil, Nil))

  /** HTTP presentation of jet-drop link lists: the comma-joined sorted
    * `jet_drop_id` strings the oracle-checked layer carries
    * (`JetLinkage.hashLinkIds`) become arrays of NextPrevJetDrop objects
    * `{jet_drop_id, jet_id, pulse_number}` (`transformPrevNextResp`,
    * `api/handlers.go:785-792`) under the API's field names.
    */
  def presentDropLinks(drops: Rows): Rows =
    if (!drops.schema.fieldNames.contains("prev_ids")) drops
    else {
      val (prev, next) = (drops.at("prev_ids"), drops.at("next_ids"))
      drops.append(StructField("prev_jet_drop_id", LinkArray, nullable = false),
        StructField("next_jet_drop_id", LinkArray, nullable = false)) { r =>
        Seq(links(r.getString(prev)), links(r.getString(next)))
      }.drop("prev_ids", "next_ids")
    }

  private val LinkJet = "^(.*):".r
  private val LinkPulse = "([+-]?\\d+)$".r

  /** The link objects of comma-joined ids: each id's jet is what precedes
    * its last `:`, its pulse the trailing integer (null when unparseable).
    */
  private def links(ids: String): Seq[org.apache.spark.sql.Row] =
    if (ids == null) null
    else ids.split(",", -1).toSeq.filter(_.nonEmpty).map { id =>
      Rows.row(LinkSchema, Seq(id, LinkJet.findFirstMatchIn(id).fold("")(_.group(1)),
        LinkPulse.findFirstMatchIn(id).flatMap(_.group(1).toLongOption).map(Long.box).orNull))
    }

  /** Records pages in the API shape (`RecordToAPI`, `api/mappers.go:
    * 19-55`): the `index` string ("pulse:order" — the `from_index`
    * cursor token) and the containing `jet_drop_id` appended, `ts_sec`
    * served as the reference's field name `timestamp`, and the raw
    * `order` dropped (the index carries it). The domain's own payload
    * analogs (event_type, value) stay.
    */
  def withIndex(records: Rows): Rows = {
    val (pn, order, jet) = (records.at("pulse_number"), records.at("order"), records.at("jet_id"))
    val kept = records.schema.fields.indices.filterNot(_ == order)
    records.map(StructType(kept.map(records.schema(_)).map(f =>
      if (f.name == "ts_sec") f.copy(name = "timestamp") else f) ++ Seq(
      StructField("index", StringType), StructField("jet_drop_id", StringType, nullable = false)))) {
      r => kept.map(r.get) ++
        Seq(Codecs.index(r.get(pn), r.get(order)), Codecs.jetDropId(r.getString(jet), r.get(pn)))
    }
  }
}
