package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge to `private[sql]` plan-level entry points, so graft's custom
  * logical operators (graft.plans._) can wrap a [[LogicalPlan]] back into
  * the public DataFrame API and register session extensions after session
  * creation. Lives under org.apache.spark.sql for the package-private
  * access — same pattern as [[ColumnBridge]].
  */
object PlanBridge {

  /** Eagerly convert a Column to its catalyst expression tree.
    * `ColumnBridge.expression` returns a lazy `ColumnNodeExpression` proxy
    * — fine inside a Dataset transformation (the classic API converts it
    * during plan construction), but a custom logical node needs the real
    * catalyst tree up front: the proxy isn't serializable and the analyzer
    * won't unwrap it inside a foreign node.
    */
  def catalystExpression(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a logical plan as a DataFrame (classic `Dataset.ofRows`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Logical plan of a DataFrame (classic `Dataset.logicalPlan`). */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** The session's SQL conf (classic `sessionState.conf`). */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** A Hadoop conf carrying the session's settings, as file sources build
    * theirs (classic `sessionState.newHadoopConf`).
    */
  def newHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      .newHadoopConf()

  /** Register a temp SQL function on a live session (the post-hoc
    * equivalent of `SparkSessionExtensions.injectFunction`, for sessions
    * the caller didn't build — Verify/Bench receive theirs ready-made).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
