package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, small shuffle count. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession(4)

  val sfDir = "/root/testdata/sf0.001"

  /** The initial physical plan's text, unwrapped from adaptive execution. */
  def initialPlan(df: DataFrame): String =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan.toString
      case p => p.toString
    }
}
