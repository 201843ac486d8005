package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column ↔ Expression conversions, the
  * supported pattern for libraries that ship custom Catalyst expressions
  * (cf. public Spark extension projects; SNIPPETS.md [1][3]).
  *
  * Spark 4 split Column (sql-api, wraps ColumnNode) from Expression
  * (catalyst); `classic.ExpressionUtils` holds the conversions but is
  * private[sql], so graft exposes exactly the two calls it needs.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a 1-row/1-column DataFrame as an uncorrelated scalar subquery
    * column. Lets bounded model state (e.g. a collapsed centroid block) be
    * inlined into a projection with NO join node in the consumer's plan —
    * the subquery executes once and its value is injected as a literal.
    */
  def scalarSubquery(df: Dataset[Row]): Column =
    toColumn(catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed))

  /** The exception `raise_error(message)` throws (private[spark]). */
  def userRaisedError(message: String): RuntimeException =
    new org.apache.spark.SparkRuntimeException("USER_RAISED_EXCEPTION",
      Map("errorMessage" -> message))
}
