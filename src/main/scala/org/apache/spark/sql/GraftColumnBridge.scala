package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 wraps `Column` around a `ColumnNode`; the Expression bridge is
  * `private[sql]`. Libraries defining native Catalyst expressions use a
  * same-package accessor — the standard pattern for Spark extension
  * libraries (the alternative, registering every expression as a SQL temp
  * function, loses the typed Column API).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an already-materialized `RDD[InternalRow]`
    * (`internalCreateDataFrame` is `private[sql]`). Used by iterative
    * operators that manage their own localCheckpoint lifecycle: tracking
    * the exact RDD lets them free exactly the blocks they pinned, instead
    * of diffing the global persistent-RDD map (which misattributes blocks
    * pinned by concurrent threads).
    */
  def internalDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType
  ): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** DataFrame over driver-held rows: a `LocalRelation`. The optimizer
    * folds projections, filters and limits over it into a new local
    * relation, so collecting such a frame runs no Spark job.
    */
  def localDataFrame(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]
  ): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** The rows of `df` when its optimized plan is a `LocalRelation`
    * (a [[localDataFrame]] under folded projections and filters), with an
    * ordering of them by `sort` as `df.orderBy(sort)` would order them.
    * None for any other plan.
    */
  def localRows(df: DataFrame, sort: Seq[Column]): Option[(
      Seq[org.apache.spark.sql.catalyst.InternalRow],
      Ordering[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // the analyzed plan is already there; optimize only a plan over local
    // relations alone, the only kind that can fold into one
    if (!ds.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else ds.queryExecution.optimizedPlan match {
      case LocalRelation(_, data, false, _) =>
        ds.orderBy(sort: _*).queryExecution.analyzed match {
          case Sort(order, true, child, _) if child.output.length == df.schema.length =>
            Some((data, new org.apache.spark.sql.catalyst.expressions.InterpretedOrdering(
              order, child.output)))
          case _ => None
        }
      case _ => None
    }
  }
}
