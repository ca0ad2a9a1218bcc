package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between public `Column`s and catalyst `Expression`s.
  * `ExpressionUtils` is `private[sql]`, so this one-file shim lives in
  * an `org.apache.spark.sql` subpackage — the standard technique for
  * out-of-tree Catalyst extensions that need Column↔Expression
  * conversion (the same access pattern Spark's own connectors use).
  * No Spark internals are modified or shadowed.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Real conversion (not the lazy ColumnNodeExpression wrapper) so
    * the result can live inside custom logical nodes and be resolved
    * by the analyzer like any catalyst expression. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a Catalyst expression builder as a SQL temp function
    * (`sessionState` is private[sql], hence here). */
  def registerExpression(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` is
    * private[sql]) — needed to hand custom logical nodes to Catalyst. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** `schema` with every field, element and value nullable: the schema
    * a file read reports for the files a frame of `schema` wrote
    * (`asNullable` is private[spark]). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The session's own SQL conf (`sessionState` is private[sql]). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** The DIVIDE_BY_ZERO error an ANSI-mode `Divide` raises
    * (`QueryExecutionErrors` is private[sql]) — for driver-side
    * scorers that mirror a Column tree's division. */
  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}
