package org.apache.spark.sql

import java.util.UUID

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.ShutdownHookManager

/** Bridge into Spark's private[sql] and private[spark] members, the
  * supported pattern for libraries that extend Spark, e.g. with custom
  * Catalyst expressions (cf. public Spark extension projects;
  * SNIPPETS.md [1][3]).
  *
  * Spark 4 split Column (sql-api, wraps ColumnNode) from Expression
  * (catalyst); `classic.ExpressionUtils` holds the conversions but is
  * private[sql], so graft exposes exactly the calls it needs.
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

  /** The streaming query whose execution thread is calling (a source's
    * `latestOffset`, say), or None off a stream thread. The thread carries
    * its query id as a SparkContext local property, and every session of
    * the context shares the registry of active queries.
    */
  def currentStreamingQuery(): Option[StreamingQuery] =
    for {
      sc <- SparkContext.getActive
      id <- Option(sc.getLocalProperty(StreamExecution.QUERY_ID_KEY))
      session <- classic.SparkSession.getActiveSession
        .orElse(classic.SparkSession.getDefaultSession)
      q <- Option(session.sharedState.activeStreamingQueries.get(UUID.fromString(id)))
    } yield q

  /** Runs `hook` at JVM shutdown before Spark's own hook stops the
    * SparkContext, so the hook can still stop queries and run jobs.
    */
  def addShutdownHookBeforeSparkContext(hook: () => Unit): Unit =
    ShutdownHookManager.addShutdownHook(
      ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY + 1)(hook): Unit
}
