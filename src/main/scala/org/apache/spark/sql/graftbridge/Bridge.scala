package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for Spark's `private[sql]` Column ↔ Expression
  * bridge, needed to expose custom Catalyst expressions as `Column`s
  * (the supported spark-4 path; `new Column(expr)` was removed), and
  * for session cloning. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session sharing `s`'s SparkContext with its own copy of `s`'s
    * SQL conf, temp views and functions: a conf set on the clone is
    * invisible to `s` and to every other session. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
