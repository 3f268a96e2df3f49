package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversion
  * (Spark 4 wraps Columns around ColumnNodes, so user code can no longer
  * call `new Column(expr)` / `col.expr` directly). Lives under
  * `org.apache.spark.sql` purely for access; the standard shim pattern
  * for libraries that ship custom Catalyst expressions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame (classic API). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** `cond` resolved against `schema` by analysis alone: the condition
    * of an analyzed `Filter` over a zero-row `LocalRelation` of the
    * schema, so no relation is built and no file is listed. */
  def resolveFilter(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType, cond: Column)
      : Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = s.sessionState.executePlan(Filter(s.expression(cond),
      LocalRelation(org.apache.spark.sql.catalyst.types.DataTypeUtils
        .toAttributes(schema))))
    qe.assertAnalyzed()
    qe.analyzed.collectFirst { case f: Filter => f.condition }
      .getOrElse(throw new IllegalArgumentException(
        s"predicate did not analyze to a Filter: $cond"))
  }

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — needed to hand custom logical nodes to the
    * planner. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a custom expression in a live session's function registry
    * (`sessionState` is `private[sql]`, hence this lives in the shim). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(id, info, builder)

  /** Register a TABLE-VALUED function (`SELECT * FROM f(...)`) in a
    * live session — the registry twin of
    * `SparkSessionExtensions.injectTableFunction`. */
  def registerTableFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
      .registerFunction(id, info, builder)
}
