package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column↔Expression conversions so
  * custom Catalyst expressions (graft.functions.VectorExprs) can be exposed
  * as user-facing Columns. Spark 4 moved the classic `new Column(expr)` /
  * `col.expr` surface behind `org.apache.spark.sql.classic.ExpressionUtils`;
  * this is the minimal sanctioned escape hatch (same-package access), kept
  * to exactly two forwarding calls.
  */
object GraftShims {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (classic `Dataset.ofRows`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The planner strategies a session plans with (`sessionState` is
    * `private[sql]`), extension-injected ones included. */
  def plannerStrategies(spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies

  /** Every rule of the session's optimizer batches, extension-injected
    * ones included. */
  def optimizerRules(spark: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    spark.asInstanceOf[classic.SparkSession].sessionState.optimizer
      .batches.flatMap(_.rules)

  /** A sibling session over the same SparkContext/SharedState built
    * without any session extensions: the unrewritten reference plan, and
    * a session that lacks the engine's strategies, for tests. The public
    * builder would hand back the existing session instead. */
  def plainSession(spark: SparkSession): SparkSession = {
    // the 6-arg constructor is Scala-`private` (bytecode-public); this is
    // exactly what Builder.getOrCreate invokes when no session exists yet
    val ctor = classOf[classic.SparkSession].getConstructor(
      classOf[org.apache.spark.SparkContext], classOf[Option[_]],
      classOf[Option[_]], classOf[SparkSessionExtensions],
      classOf[scala.collection.immutable.Map[_, _]],
      classOf[scala.collection.immutable.Map[_, _]])
    ctor.newInstance(spark.sparkContext,
      Some(spark.asInstanceOf[classic.SparkSession].sharedState), None,
      new SparkSessionExtensions,
      Map.empty[String, String], Map.empty[String, String])
  }

  /** The analyzed logical plan under a DataFrame. */
  def logicalPlan(df: DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Free the storage behind a `localCheckpoint(true)`-ed DataFrame.
    * A checkpointed Dataset's plan is a `LogicalRDD` over the persisted
    * internal RDD; `Dataset.unpersist` goes through the CacheManager and
    * does NOT release checkpoint blocks, so iterative operators that
    * checkpoint per round (connected components) would pin O(rounds)
    * storage. `SparkContext.unpersistRDD` drops the registry entry
    * synchronously; block deletion is async (non-blocking). No-op on a
    * non-checkpointed DataFrame. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Drain the async listener bus so a metrics listener has seen every
    * completed task before its counters are read (`graft.QueryTrace`'s
    * measurement window). `listenerBus` is private[spark]; this package
    * sits inside org.apache.spark, hence the shim. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** What `df.show(numRows)` prints, as a string (`showString` is
    * private[sql]), so a preview rendered on a worker thread prints later. */
  def showString(df: DataFrame, numRows: Int): String =
    df.asInstanceOf[classic.Dataset[_]].showString(numRows, 20, false)

}
