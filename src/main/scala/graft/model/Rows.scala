package graft.model

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{StructField, StructType}

/** Driver-held rows and their schema: what a served route filters, pages
  * and presents once its input is in the driver, as plain Scala over the
  * rows (no Catalyst plan). Every row carries `schema`, so the JSON edge
  * renders it by field name.
  */
final case class Rows(schema: StructType, rows: Vector[Row]) {

  /** The position of column `name`. */
  def at(name: String): Int = schema.fieldIndex(name)

  def filter(p: Row => Boolean): Rows = copy(rows = rows.filter(p))

  /** The rows under `out`, each built from its row by `f`. */
  def map(out: StructType)(f: Row => Seq[Any]): Rows =
    Rows(out, rows.map(r => Rows.row(out, f(r))))

  /** The rows with the columns `more` appended, each value from `f`. */
  def append(more: StructField*)(f: Row => Seq[Any]): Rows =
    map(StructType(schema.fields ++ more))(r => r.toSeq ++ f(r))

  /** The rows without the columns `names`. */
  def drop(names: String*): Rows = {
    val keep = schema.fields.indices.filterNot(i => names.contains(schema(i).name))
    map(StructType(keep.map(schema(_))))(r => keep.map(r.get))
  }

  /** A frame over these rows (a `LocalRelation`), for callers that want a
    * DataFrame; building it plans nothing.
    */
  def toDataFrame(spark: SparkSession): DataFrame = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    GraftColumnBridge.localDataFrame(spark, schema, rows.map(r =>
      toInternal(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
  }
}

object Rows {

  /** One row of `schema`. */
  def row(schema: StructType, values: Seq[Any]): Row = new GenericRowWithSchema(values.toArray, schema)

  def empty(schema: StructType): Rows = Rows(schema, Vector.empty)

  /** The collected rows of `df`: the one action of a route whose input is a
    * Spark plan.
    */
  def collect(df: DataFrame): Rows = Rows(df.schema, df.collect().toVector)
}
