package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Rows

/** List-endpoint pagination (W5, A3).
  *
  * The reference runs `LIMIT/OFFSET` plus a separate `COUNT(*)` over the same
  * filters for every list endpoint (`etl/storage/storage.go:229-255`). Two
  * idioms here:
  *
  *  - `page`: sort + offset + limit (Spark `offset` is a logical operator
  *    since 3.4; with a unique total order the page is deterministic).
  *  - `pageWithTotal`: attaches `total` by broadcasting the 1-row count of
  *    the filtered set onto the cut page. Both sides stay fully parallel —
  *    the count is a map-side-combined aggregate, the page is a top-k cut
  *    (TakeOrderedAndProject) — exactly the reference's COUNT-plus-page
  *    pair (`etl/storage/storage.go:229-255`) fused into one plan. The
  *    obvious one-pass alternative, `count(*) OVER ()`, funnels the whole
  *    filtered set through a single task: a pulse-range filter can span a
  *    year, so the window form is a scale cliff, not an optimization.
  *
  * A route whose rows are already in the driver (the pulse-keyed store
  * routes, and their corpus twins after one collect) pages them with
  * [[pageRows]]: the same sort, cut, count and carried-total sentinel as
  * [[pageWithTotalCarried]], over the rows, with no plan built.
  */
object Pagination {

  val DefaultLimit = 20
  val MaxLimit = 1000

  /** P7 — clamp/validate limit & offset like `api/handlers.go:678-703`. */
  def validLimit(l: Int): Boolean = l >= 1 && l <= MaxLimit
  def validOffset(o: Int): Boolean = o >= 0

  /** W5 — deterministic page: sort keys must form a total order. */
  def page(df: DataFrame, sort: Seq[Column], limit: Int, offset: Int = 0): DataFrame = {
    val sorted = df.orderBy(sort: _*)
    (if (offset > 0) sorted.offset(offset) else sorted).limit(limit)
  }

  /** A3 — page plus total count of the filtered set in one logical plan.
    * The final `orderBy` re-establishes the page order ABOVE the count
    * join: the broadcast join preserves stream-side order in today's
    * local plans, but that is an implementation accident, not a contract
    * — under AQE re-planning or a multi-partition stream side the
    * collected page could arrive shuffled. Sorting the ≤1000 joined rows
    * is one in-memory pass; the page cut itself stays the top-k
    * TakeOrderedAndProject underneath.
    */
  def pageWithTotal(df: DataFrame, sort: Seq[Column], limit: Int, offset: Int = 0): DataFrame = {
    val total = df.agg(count(lit(1)).as("total"))
    page(df, sort, limit, offset).crossJoin(broadcast(total)).orderBy(sort: _*)
  }

  /** Marker column of [[pageWithTotalCarried]]: true on page rows, false
    * on the total-only sentinel.
    */
  val PageRowMarker = "_page_row"

  /** [[pageWithTotal]] whose total SURVIVES an empty page. The 1-row
    * count LEFT-joins the page (the page side — ≤1000 rows by validation
    * — is the broadcast build side), so an offset past the last filtered
    * row still yields exactly one sentinel row: [[PageRowMarker]] false,
    * page columns null, `total` the true filtered count. The reference's
    * COUNT-plus-page pair answers this corner for free because its COUNT
    * is a separate statement (`etl/storage/storage.go:229-255`); this
    * keeps the fused one-plan form AND the corner — callers render only
    * marker-true rows and read `total` from any row, sentinel included,
    * so an out-of-range page costs the same single pass as an in-range
    * one (no second filtered-count probe). [[pageRows]] is the same cut
    * over rows already in the driver.
    */
  def pageWithTotalCarried(df: DataFrame, sort: Seq[Column], limit: Int, offset: Int = 0): DataFrame = {
    // the two attached columns are resolved by bare name after the join —
    // a source already carrying either would make the select ambiguous at
    // plan time; fail loud at the call site instead
    require(!df.columns.contains("total") && !df.columns.contains(PageRowMarker),
      s"pageWithTotalCarried input must not carry reserved columns 'total'/'$PageRowMarker'")
    val total = df.agg(count(lit(1)).as("total"))
    val p = page(df, sort, limit, offset).withColumn(PageRowMarker, lit(true))
    val pageCols = p.columns.filterNot(_ == PageRowMarker)
    total.join(broadcast(p), lit(true), "left")
      .withColumn(PageRowMarker, coalesce(col(PageRowMarker), lit(false)))
      .select(pageCols.map(col) ++ Seq(col("total"), col(PageRowMarker)): _*)
      .orderBy(sort: _*)
  }

  // ---- the same page over driver rows ------------------------------------

  /** [[pageWithTotalCarried]] over driver-held `rows`: sorted by `order`,
    * cut at `offset`/`limit` and carrying their count, in the same schema
    * and with the same sentinel.
    */
  def pageRows(rows: Rows, order: Ordering[Row], limit: Int, offset: Int = 0): Rows =
    carried(rows.schema, rows.rows.sorted(order).drop(offset).take(limit), rows.rows.length.toLong)

  /** The carried-total shape of the page rows `page` (of `schema`) of a
    * filtered set of `total` rows: the page columns made nullable, then
    * `total` and [[PageRowMarker]] on every row; an empty page is the one
    * marker-false sentinel row.
    */
  def carried(schema: StructType, page: Seq[Row], total: Long): Rows = {
    val out = StructType(schema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("total", LongType, nullable = false),
      StructField(PageRowMarker, BooleanType, nullable = false)))
    if (page.isEmpty) Rows(out, Vector(Rows.row(out, Seq.fill(schema.length)(null) :+ total :+ false)))
    else Rows(out, page.iterator.map(r => Rows.row(out, r.toSeq :+ total :+ true)).toVector)
  }

  /** The order `orderBy` gives rows of `schema` by `keys` (column name,
    * ascending?): ascending puts nulls first, descending last (Spark's
    * `asc`/`desc`), and strings compare in UTF-8 byte order.
    */
  def ordering(schema: StructType, keys: (String, Boolean)*): Ordering[Row] = {
    val at = keys.map { case (name, asc) => (schema.fieldIndex(name), asc) }
    (a, b) => at.iterator.map { case (i, asc) =>
      val c = (a.isNullAt(i), b.isNullAt(i)) match {
        case (true, true) => 0
        case (true, false) => -1
        case (false, true) => 1
        case _ => compareValues(a.get(i), b.get(i))
      }
      if (asc) c else -c
    }.find(_ != 0).getOrElse(0)
  }

  /** Spark's string order: UTF-8 byte order. */
  def compareStrings(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => Integer.compare(x, y)
    case (x: String, y: String) => compareStrings(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(s"no row order for $a and $b")
  }
}
