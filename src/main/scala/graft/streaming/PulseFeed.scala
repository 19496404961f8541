package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ST5 — the exporter feed's query body.
  *
  * The exporter-api long-polls for the next complete pulse (ST5,
  * `etl/exporter/pulse_exporter_server.go:20-51`). Spark mapping: the
  * feed is a query over the pulses table filtered to newly-complete
  * pulses matching the prototype filter (J1+A5 join re-expressed as a
  * broadcast join). Ingest (ST1) has one driver, [[graft.Ingest]]'s
  * daemon.
  */
object PulseFeed {

  /** ST5 — the next complete pulse after `from` whose records match any of
    * the prototype references (J1 join + A5 recount,
    * `etl/storage/storage.go:563-585`): the polling body the exporter
    * stream evaluates every pulse period. Broadcast side = the single
    * candidate pulse row.
    */
  def nextCompletePulseFiltered(
      pulses: DataFrame,
      records: DataFrame,
      from: Long,
      prototypes: Seq[Array[Byte]]
  ): DataFrame = {
    val candidate = pulses
      .filter(col("is_complete") && col("prev_pulse_number") === from)
      .select(col("pulse_number"), col("prev_pulse_number"))
    prototypeFiltered(records, prototypes)
      .join(broadcast(candidate), "pulse_number")
      .groupBy(col("pulse_number"), col("prev_pulse_number"))
      .agg(count(lit(1)).as("record_amount"))
  }

  /** Prototype admission adapted to the records LAYOUT: the corpus view
    * carries the wire bytes (binary — match directly), while an ingest
    * store's serving adapter keys every reference as xxhash64 of the
    * stored bytes ([[graft.model.StoreViews]]), so the wire bytes are
    * hashed the same way before comparing — an `isin` of binary literals
    * against the long column would throw AnalysisException and kill the
    * subscriber stream on every poll. `xxhash64(lit(bytes))` is foldable,
    * so Catalyst reduces the predicate to literal long comparisons the
    * scan can still push.
    */
  def prototypeFiltered(records: DataFrame, prototypes: Seq[Array[Byte]]): DataFrame =
    if (prototypes.isEmpty) records
    else records.schema("prototype_reference").dataType match {
      case org.apache.spark.sql.types.LongType =>
        records.filter(prototypes.map(b =>
          col("prototype_reference") === xxhash64(lit(b))).reduce(_ || _))
      case _ => records.filter(col("prototype_reference").isin(prototypes: _*))
    }
}
