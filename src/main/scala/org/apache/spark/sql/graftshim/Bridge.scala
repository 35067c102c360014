package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 wraps Column around ColumnNode
  * and gates the Catalyst conversion behind `private[sql]`
  * ExpressionUtils (spark/sql/classic/columnNodeSupport.scala) — this
  * shim lives in the org.apache.spark.sql namespace solely to re-export
  * those two conversions for graft's native expressions.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the private[sql]
    * Dataset.ofRows, re-exported for graft's custom logical operators.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** FLOAT[] -or- DOUBLE[] input-type constraint for the vector
    * expressions (TypeCollection is private[sql]).
    */
  val vectorArrayType: org.apache.spark.sql.types.AbstractDataType =
    org.apache.spark.sql.types.TypeCollection(
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))

  /** Wrap an InternalRow RDD as a DataFrame (private[sql]
    * internalCreateDataFrame) — lets iterative operators materialize a
    * round into an explicitly persisted RDD they can UNPERSIST later,
    * which Dataset.localCheckpoint does not expose (its blocks are only
    * reclaimed lazily by the ContextCleaner after GC).
    */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Block until every listener has seen every event posted so far
    * (the listener bus is private[spark]), so a listener's counts are
    * complete when an action returns.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Every rule in the session optimizer's batches: the built-in ones,
    * those injected by session extensions, and
    * `experimental.extraOptimizations` (sessionState is private[sql]).
    */
  def optimizerRules(spark: SparkSession): Seq[Rule[LogicalPlan]] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.optimizer.batches.flatMap(_.rules)

  /** Register a SQL function on a LIVE session — sessionState is
    * private[sql], so the registry hook has to live in this namespace.
    */
  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
                       info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)
}
