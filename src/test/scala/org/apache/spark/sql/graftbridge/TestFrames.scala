package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Frames the public API cannot build, for tests. */
object TestFrames {

  /** A local relation over `rows` exactly as given: no conversion and
    * no check against `schema`, so a row may hold a value of the wrong
    * type and fail only when something reads it. */
  def unchecked(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
