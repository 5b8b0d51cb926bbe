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

  /** Register a builder in the session's FunctionRegistry so custom
    * expressions are callable from SQL text (`spark.sessionState` is
    * `private[sql]` in Spark 4). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Wrap a custom LogicalPlan as a DataFrame (classic `Dataset.ofRows`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Apply a SparkSessionExtensions installer to a live session: register
    * its functions into the session's registry and return the strategies
    * and optimizer rules it injects (the builder/register methods are
    * private[sql]; extensions normally apply only at session
    * construction — this lets tests verify an installer against the
    * shared test session). */
  def applyExtensions(installer: SparkSessionExtensions => Unit,
      spark: SparkSession): (Seq[org.apache.spark.sql.execution.SparkStrategy],
      Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]) = {
    val e = new SparkSessionExtensions
    installer(e)
    e.registerFunctions(spark.sessionState.functionRegistry)
    (e.buildPlannerStrategies(spark), e.buildOptimizerRules(spark))
  }

  /** A sibling session over the same SparkContext/SharedState whose
    * SessionState is built WITH the given extensions installer — i.e. the
    * real `spark.sql.extensions` activation path, where injected optimizer
    * rules land in their advertised batches. Tests use this to verify the
    * extension wiring end-to-end without stopping the shared session (the
    * public builder ignores `withExtensions` once a session exists). */
  def sessionWithExtensions(spark: SparkSession,
      installer: SparkSessionExtensions => Unit): SparkSession = {
    val e = new SparkSessionExtensions
    installer(e)
    // the 6-arg constructor is Scala-`private` (bytecode-public); this is
    // exactly what Builder.getOrCreate invokes when no session exists yet
    val ctor = classOf[classic.SparkSession].getConstructor(
      classOf[org.apache.spark.SparkContext], classOf[Option[_]],
      classOf[Option[_]], classOf[SparkSessionExtensions],
      classOf[scala.collection.immutable.Map[_, _]],
      classOf[scala.collection.immutable.Map[_, _]])
    ctor.newInstance(spark.sparkContext,
      Some(spark.asInstanceOf[classic.SparkSession].sharedState), None, e,
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
