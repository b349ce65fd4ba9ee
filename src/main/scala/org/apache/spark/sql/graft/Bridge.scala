package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Crossings into Spark's `private[sql]` API. `ExpressionUtils` and
  * `cloneSession` are `private[sql]` in Spark 4's classic module, so the
  * one-line crossings live in an `org.apache.spark.sql` sub-package — the
  * standard technique third-party expression libraries use; everything
  * else in this repo stays in `graft`. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session sharing `s`'s context, cache and catalog, with a copy of its
    * runtime conf that can be written without touching `s`. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
