package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A DataFrame over rows already in Catalyst's internal format
  * (`internalCreateDataFrame` is package-private to Spark). Unlike
  * `createDataFrame(RDD[Row], schema)` it builds no row encoder, so no
  * task generates the encoder's per-column serializer. The rows must
  * match `schema` exactly: nothing checks or converts them. */
object GraftFrames {
  def fromInternal(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
