package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface — the standard pattern for Spark
  * extension libraries that add native Catalyst expressions (public
  * Spark API: SparkSessionExtensions does the same wiring, but column
  * construction from an Expression has no public classic-mode entry
  * point in Spark 4.x).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a LogicalPlan (classic `Dataset.ofRows` is
    * private[sql]) — used to execute plans produced by our resolution
    * rule in tests without rebuilding the session with extensions.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until the listener bus has delivered every event posted so
    * far (the drain is private[spark]): query-execution listeners run on
    * that bus, after the action that fired them has returned.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The DSv2 aggregate a scan would be asked to push, as Spark's own
    * scan push-down translates it (`translateAggregation` is
    * protected[sql]); None when it has no DSv2 form.
    */
  def translateAggregation(
      aggs: Seq[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression],
      groupBy: Seq[Expression])
      : Option[org.apache.spark.sql.connector.expressions.aggregate.Aggregation] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateAggregation(aggs, groupBy)

  /** Register a temp SQL function backed by a native expression builder,
    * so `spark.sql("... z_interleave(a, b, c) ...")` plans the codegen'd
    * expression directly.
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions._
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
  }
}
