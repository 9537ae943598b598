package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ↔ catalyst Expression bridge. Spark 4 made these converters
 * `private[sql]` (Column now wraps a ColumnNode); extensions that
 * define native Expressions access them from inside the sql package —
 * the established pattern for third-party Catalyst extensions.
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `AbstractDataType` is `private[sql]` in Spark 4 — re-exported so
    * graft's native Expressions can declare `inputTypes` (analysis-time
    * type checks via ExpectsInputTypes instead of executor-side
    * ClassCastExceptions on mistyped SQL). */
  type SqlAbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** `TypeCollection` ("any of these types, implicit-cast to the first
    * castable") is likewise `private[sql]` — re-exported for graft
    * Expressions accepting more than one input type. */
  def typeCollection(types: SqlAbstractDataType*): SqlAbstractDataType =
    org.apache.spark.sql.types.TypeCollection(types: _*)

  /** `IntegralType` is `private[sql]` in Spark 4 — membership test for
    * callers that must accept any integral column (byte…long). */
  def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt.isInstanceOf[org.apache.spark.sql.types.IntegralType]

  /** Run a (possibly hand-transformed) unresolved LogicalPlan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `cloneSession()` is `private[sql]`: a new session over the same
    * SparkContext that starts with copies of this one's confs, function
    * registry, temp views and experimental rules. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
