package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan,
  SQLExecution}
import org.apache.spark.sql.types.StructType

/** Bridge between public `Column`s and catalyst `Expression`s.
  * `ExpressionUtils` is `private[sql]`, so this one-file shim lives in
  * an `org.apache.spark.sql` subpackage — the standard technique for
  * out-of-tree Catalyst extensions that need Column↔Expression
  * conversion (the same access pattern Spark's own connectors use).
  * It also hosts the pre-planned frame over driver rows
  * ([[prePlanned]]: a [[PrePlannedExecution]] under a
  * [[PrePlannedFrame]]), whose `Dataset` constructor and
  * `withNewExecutionId` body are `private[sql]` too. No Spark internals
  * are modified or shadowed: the two classes subclass public ones.
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

  /** A frame over `relation` whose plans are fixed
    * ([[PrePlannedExecution]]): building it runs no analyzer, and its
    * `collect` ([[PrePlannedFrame]]) runs no optimizer and no planner,
    * and deserializes with `encoder`, a Row encoder already resolved and
    * bound for the relation's schema ([[rowEncoder]]), which the caller
    * may share across frames. */
  def prePlanned(spark: org.apache.spark.sql.SparkSession, relation: LocalRelation,
      encoder: () => ExpressionEncoder[Row]): org.apache.spark.sql.DataFrame =
    new PrePlannedFrame(new PrePlannedExecution(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], relation), encoder)

  /** The Row encoder an ordinary frame of `schema` resolves on its first
    * collect: `RowEncoder.encoderFor(schema)` under the session's conf
    * (`spark.sql.datetime.java8API.enabled` picks the date and timestamp
    * classes), resolved and bound by the session's analyzer. */
  def rowEncoder(spark: org.apache.spark.sql.SparkSession,
      schema: StructType): ExpressionEncoder[Row] = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.withActive(ExpressionEncoder(RowEncoder.encoderFor(schema))
      .resolveAndBind(DataTypeUtils.toAttributes(schema), s.sessionState.analyzer))
  }
}

/** The query execution of a bare LocalRelation with its plans fixed to
  * what Spark's phases would return for it: the relation itself as the
  * analyzed, command-executed, normalized, cached-data and optimized
  * plan, and its `LocalTableScanExec` as the spark and executed plan.
  * No analyzer, cache lookup, optimizer or planner runs, and the
  * planning tracker records no phase. A frame derived from one (a
  * `select`, `filter`, `join`, `persist`) gets an ordinary
  * `QueryExecution` over the same relation. */
final class PrePlannedExecution(session: org.apache.spark.sql.classic.SparkSession,
    relation: LocalRelation)
    extends QueryExecution(session, relation, shuffleCleanupMode =
      QueryExecution.determineShuffleCleanupMode(session.sessionState.conf)) {
  private lazy val scan: SparkPlan =
    LocalTableScanExec(relation.output, relation.data, relation.stream)
  override def analyzed: LogicalPlan = relation
  override def commandExecuted: LogicalPlan = relation
  override def normalized: LogicalPlan = relation
  override def withCachedData: LogicalPlan = relation
  override def optimizedPlan: LogicalPlan = relation
  override def sparkPlan: SparkPlan = scan
  override def executedPlan: SparkPlan = scan
}

/** A Row frame over a [[PrePlannedExecution]] whose `collect` is
  * `Dataset.collect` with the Row encoder given instead of resolved:
  * the same SQL execution (`withNewExecutionId(qe, Some("collect"))`,
  * so listeners see it), the same metrics reset and internal-error
  * wrapping, and one fresh deserializer per call from `encoder`, read
  * on the first collect (as an ordinary frame resolves its encoder on
  * its first collect). Every other action takes Spark's own path. */
final class PrePlannedFrame(qe: PrePlannedExecution, encoder: () => ExpressionEncoder[Row])
    extends org.apache.spark.sql.classic.Dataset[Row](qe,
      () => RowEncoder.encoderFor(qe.analyzed.schema)) {
  @transient private lazy val bound = encoder()

  override def collect(): Array[Row] =
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      QueryExecution.withInternalError("""The "collect" action failed.""") {
        val plan = qe.executedPlan
        plan.resetMetrics()
        val fromRow = bound.createDeserializer()
        plan.executeCollect().map(fromRow)
      }
    }
}
