package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression converters for engine-built native expressions
  * that carry driver-side state (e.g. [[graft.functions.NearestCentroid]]
  * with its centroid matrix): such expressions cannot be constructed from
  * SQL-function children, and the classic converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]` —
  * this bridge lives in the `org.apache.spark.sql` package solely to
  * expose those calls, the standard extension-library shim. It also
  * exposes `cloneSession`, for [[graft.GraftSession.interpreted]].
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A session sharing `s`'s SparkContext and cached data, with a copy of
    * its session state: runtime conf, temp views, functions and
    * registered `QueryExecutionListener`s.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
