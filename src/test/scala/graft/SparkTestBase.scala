package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, small shuffle count. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession(4)

  val sfDir = "/root/testdata/sf0.001"
}
