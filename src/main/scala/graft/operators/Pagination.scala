package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

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
    * one (no second filtered-count probe).
    *
    * A `df` over driver-held rows (its optimized plan a local relation:
    * a driver read under projections and filters) is paged in the driver
    * instead, with the same rows and schema and no Spark job.
    */
  def pageWithTotalCarried(df: DataFrame, sort: Seq[Column], limit: Int, offset: Int = 0): DataFrame = {
    // the two attached columns are resolved by bare name after the join —
    // a source already carrying either would make the select ambiguous at
    // plan time; fail loud at the call site instead
    require(!df.columns.contains("total") && !df.columns.contains(PageRowMarker),
      s"pageWithTotalCarried input must not carry reserved columns 'total'/'$PageRowMarker'")
    GraftColumnBridge.localRows(df, sort).fold {
      val total = df.agg(count(lit(1)).as("total"))
      val p = page(df, sort, limit, offset).withColumn(PageRowMarker, lit(true))
      val pageCols = p.columns.filterNot(_ == PageRowMarker)
      total.join(broadcast(p), lit(true), "left")
        .withColumn(PageRowMarker, coalesce(col(PageRowMarker), lit(false)))
        .select(pageCols.map(col) ++ Seq(col("total"), col(PageRowMarker)): _*)
        .orderBy(sort: _*)
    } { case (rows, ordering) => pageRowsWithTotalCarried(df, rows, ordering, limit, offset) }
  }

  /** [[pageWithTotalCarried]]'s driver form over `rows`, the rows of `df`:
    * the count, the sort by `ordering` (Catalyst's own for the page's
    * sort), the offset/limit cut and the carried-total sentinel, as a
    * local relation again, so presenting and collecting it runs no job.
    */
  private def pageRowsWithTotalCarried(df: DataFrame, rows: Seq[InternalRow],
      ordering: Ordering[InternalRow], limit: Int, offset: Int): DataFrame = {
    val total = rows.length.toLong
    val page = rows.sorted(ordering).drop(offset).take(limit)
    val out =
      if (page.isEmpty) Seq(InternalRow.fromSeq(Seq.fill(df.schema.length)(null) :+ total :+ false))
      else page.map(r => InternalRow.fromSeq(r.toSeq(df.schema) :+ total :+ true))
    GraftColumnBridge.localDataFrame(df.sparkSession, StructType(
      df.schema.fields.map(_.copy(nullable = true)) ++ Seq(
        StructField("total", LongType, nullable = false),
        StructField(PageRowMarker, BooleanType, nullable = false))), out)
  }
}
