package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Static factories over Spark members that are package-private to
  * `org.apache.spark.sql`. */
object GraftFrames {

  /** A DataFrame over rows already in Catalyst's internal format. Unlike
    * `createDataFrame(RDD[Row], schema)` it builds no row encoder, so no
    * task generates the encoder's per-column serializer. The rows must
    * match `schema` exactly: nothing checks or converts them. */
  def fromInternal(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** A Column over a Catalyst expression; the analyzer resolves its
    * children like any other column's. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (unresolved) Catalyst expression behind a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
