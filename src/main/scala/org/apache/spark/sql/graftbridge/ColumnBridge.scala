package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge.
  *
  * Spark 4 made `Column` backend-agnostic (ColumnNode) and hid the catalyst
  * conversions behind `private[sql]` (`classic.ExpressionUtils`); custom
  * Catalyst expressions still need them. This object lives under the
  * `org.apache.spark.sql` package namespace solely to re-export the two
  * conversions — the sanctioned pattern for Catalyst-level extensions.
  */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Wrap an `RDD[InternalRow]` back into a DataFrame WITHOUT a
    * Row-encoder round-trip (`internalCreateDataFrame` is `private[sql]`).
    * The rows must already match `schema` physically (e.g. UnsafeRow from
    * an UnsafeProjection).
    */
  def internalDf(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
