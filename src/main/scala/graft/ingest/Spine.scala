package graft.ingest

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.operators.{ChainNode, ChainSort}

/** The full write-path spine (SURVEY §3.1): wire records → canonical rows
  * → per-object chain sort → deterministic order assignment.
  *
  * A pulse is bounded by the pulse cadence, so the spine runs where the
  * pulse already is, like the reference's transformer
  * (`etl/transformer/transformer.go:59-159`): a plain function over the
  * pulse's driver-held wire rows, with no Spark plan or job.
  */
object Spine {

  /** The spine's columns: [[Canonicalize.schema]] plus `order`. */
  val schema: StructType =
    Canonicalize.schema.add(StructField("order", IntegerType, nullable = false))

  /** The canonical rows of `wire` ([[Canonicalize]]) with the causal
    * `order` column, in [[schema]]. Each state chain of one object inside
    * one jet drop is chain-sorted ([[ChainSort.sortGroup]]); a broken
    * chain group is dropped whole (reference semantics,
    * `etl/transformer/transformer.go:59-63`). W7: each (pulse, jet) drop
    * is numbered 1..n by (chain position, `reference` in unsigned byte
    * order), so a retried pulse numbers identically (ST4). Rows come out
    * sorted by (pulse, jet, order).
    */
  def records(wire: Seq[Row]): Seq[Row] = number(wire.flatMap(Canonicalize(_)))

  private def hex(b: Array[Byte]): String =
    if (b == null) null else java.util.HexFormat.of().withUpperCase().formatHex(b)

  private def number(canon: Seq[Row]): Seq[Row] = {
    val Seq(ref, tpe, obj, prev, hint, jet, pulse) = Seq("reference", "type",
      "object_reference", "prev_record_reference", "order_hint", "jet_id",
      "pulse_number").map(schema.fieldIndex)
    def drop(r: Row) = (r.getLong(pulse), Option(r.getString(jet)))
    // chain position of every row whose chain group sorted
    val pos = new java.util.IdentityHashMap[Row, Integer]()
    canon.groupBy(r => (drop(r), hex(r.getAs[Array[Byte]](obj)))).valuesIterator.foreach { g =>
      val nodes = g.map(r => ChainNode(hex(r.getAs[Array[Byte]](ref)), null,
        hex(r.getAs[Array[Byte]](prev)), r.getString(tpe) == "state", r.getLong(hint)))
      val rowOf = new java.util.IdentityHashMap[ChainNode, Row]()
      nodes.lazyZip(g).foreach(rowOf.put)
      ChainSort.sortGroup(nodes).foreach(_.iterator.zipWithIndex
        .foreach { case (n, i) => pos.put(rowOf.get(n), i + 1) })
    }
    val byRef: Ordering[Array[Byte]] = (a, b) => java.util.Arrays.compareUnsigned(a, b)
    canon.filter(pos.containsKey).groupBy(drop).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
      rs.sortBy(r => (pos.get(r).intValue, r.getAs[Array[Byte]](ref)))(
          Ordering.Tuple2(Ordering.Int, byRef))
        .zipWithIndex.map { case (r, i) => new GenericRowWithSchema(
          (r.toSeq :+ (i + 1)).toArray, schema): Row }
    }
  }
}
