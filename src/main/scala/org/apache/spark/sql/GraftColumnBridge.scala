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

  /** DataFrame over driver-held rows: a `LocalRelation`, so collecting
    * it runs no Spark job.
    */
  def localDataFrame(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]
  ): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))
}
