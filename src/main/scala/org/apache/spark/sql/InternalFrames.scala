package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A DataFrame over an `RDD[InternalRow]` (a `LogicalRDD` leaf), through
  * the package-private `classic.SparkSession.internalCreateDataFrame`:
  * rows already in Catalyst's format skip the `Row` encoder round trip
  * that the public `createDataFrame(RDD[Row], schema)` makes. */
object InternalFrames {
  def fromRdd(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
