package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A frame over catalyst rows — Spark's own `internalCreateDataFrame`,
  * which is package-private. `graft.ops.Scale.runningSum` scans its
  * frozen layout as catalyst rows and appends a column: through the
  * public `createDataFrame(RDD[Row], …)` every row would be converted to
  * an external `Row` and back.
  */
object CatalystFrames {
  def of(s: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    s.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
